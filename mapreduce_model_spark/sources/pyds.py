"""Custom Python DataSource (Spark 4 DataSource API) streaming the
reference's manifest corpus format:

    spark.dataSource.register(ManifestDataSource)
    spark.readStream.format("manifest_corpus").option("path", manifest).load()

yields ``doc_id: long, text: string`` with the reference's 1-based
positional ids (main.cc:79) and hard errors on missing files
(main.cc:66-70,182-186). The batch read of the same format is
``sources.manifest.read_corpus``.

The stream is a ``SimpleDataSourceStreamReader``: each trigger reads
its at most ``filesPerBatch`` documents once, in the driver-side stream
runner, and hands them to the JVM as Arrow, so a warm microbatch runs no
Python read task. Only a replayed batch whose prefetched rows are gone
reads on an executor (``readBetweenOffsets``).
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

FORMAT_NAME = "manifest_corpus"


def _read_text(path: str) -> str:
    # newline="" keeps line endings as on disk: the same text as
    # read_corpus's spark.read.text(wholetext=True) row
    with open(path, encoding="utf-8", errors="replace", newline="") as fh:
        return fh.read()


class ManifestStreamReader(SimpleDataSourceStreamReader):
    """Streaming face of the same format: the manifest is a feed, each
    microbatch admits the next ``filesPerBatch`` documents. The offset is
    the count of manifest entries consumed and ``read`` is a pure function
    of it, so a replayed [start, end) holds the same doc ids (the way Kafka
    offsets work), batches cover disjoint ranges, and the reader keeps no
    cursor: Spark's wrapper resumes from the last planned batch on restart.
    ``read`` runs on the driver, holding at most ``filesPerBatch``
    documents per trigger; ``readBetweenOffsets`` runs on an executor when
    a replayed batch's prefetched rows are gone."""

    def __init__(self, options):
        self.manifest_path = options.get("path")
        if not self.manifest_path:
            raise ValueError("manifest_corpus requires .option('path', <manifest>)")
        self.files_per_batch = int(options.get("filesPerBatch", "16"))
        from mapreduce_model_spark.sources.manifest import read_manifest

        self._paths = read_manifest(self.manifest_path)

    def initialOffset(self):
        return {"index": 0}

    def read(self, start):
        end = {"index": min(len(self._paths), start["index"] + self.files_per_batch)}
        return self.readBetweenOffsets(start, end), end

    def readBetweenOffsets(self, start, end):
        # a list iterator, not a generator: Spark's wrapper copies the
        # iterators it caches when it serves a batch
        return iter(
            [(i + 1, _read_text(self._paths[i])) for i in range(start["index"], end["index"])]
        )


class ManifestDataSource(DataSource):
    @classmethod
    def name(cls):
        return FORMAT_NAME

    def schema(self):
        return "doc_id long, text string"

    def simpleStreamReader(self, schema):
        return ManifestStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(ManifestDataSource)
