"""Custom Python DataSource (Spark 4 DataSource API) for the reference's
manifest corpus format.

``sources.manifest`` reads the corpus with ``spark.read.text`` + a
literal path→ids map lookup. This module exposes the SAME format as a
first-class pluggable source instead:

    spark.dataSource.register(ManifestDataSource)
    spark.read.format("manifest_corpus").option("path", manifest).load()

yielding ``doc_id: long, text: string`` with the reference's 1-based
positional ids (main.cc:79) and hard errors on missing files
(main.cc:66-70,182-186).

The batch face plans on the driver (read the tiny manifest, one
InputPartition per listed file — the reference's unit of map work,
main.cc:50-59) and reads on executors, one file per partition task. This
is the pattern for wrapping ANY non-Spark-native format (proprietary
archives, tar shards, API pages) as a parallel scan; Spark handles
scheduling, retries, and downstream shuffle exactly as for built-in
sources.

The stream face is a ``SimpleDataSourceStreamReader``: each trigger reads
its at most ``filesPerBatch`` documents once, in the driver-side stream
runner, and hands them to the JVM as Arrow, so a warm microbatch runs no
Python read task. Only a replayed batch whose prefetched rows are gone
reads on an executor (``readBetweenOffsets``).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

FORMAT_NAME = "manifest_corpus"


def _read_text(path: str) -> str:
    # newline="" keeps line endings as on disk: the same text as
    # read_corpus's spark.read.text(wholetext=True) row
    with open(path, encoding="utf-8", errors="replace", newline="") as fh:
        return fh.read()


class _FilePartition(InputPartition):
    def __init__(self, doc_id: int, path: str):
        self.doc_id = doc_id
        self.path = path


class ManifestCorpusReader(DataSourceReader):
    def __init__(self, options):
        self.manifest_path = options.get("path")
        if not self.manifest_path:
            raise ValueError("manifest_corpus requires .option('path', <manifest>)")

    def partitions(self):
        # driver-side planning: parse count + N paths, resolve, hard-error
        # on missing files — exactly read_manifest's contract
        from mapreduce_model_spark.sources.manifest import read_manifest

        paths = read_manifest(self.manifest_path)
        return [_FilePartition(i + 1, p) for i, p in enumerate(paths)]

    def read(self, partition: _FilePartition):
        # one row per document; tokenization downstream treats newlines as
        # whitespace (main.cc:73), so whole-file text is equivalent to the
        # reference's token stream
        yield (partition.doc_id, _read_text(partition.path))


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

    def reader(self, schema):
        return ManifestCorpusReader(self.options)

    def simpleStreamReader(self, schema):
        return ManifestStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(ManifestDataSource)
