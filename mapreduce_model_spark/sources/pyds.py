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

Planning runs on the driver (read the tiny manifest, one InputPartition
per listed file — the reference's unit of map work, main.cc:50-59);
reading runs on executors, one file per partition task. This is the
pattern for wrapping ANY non-Spark-native format (proprietary archives,
tar shards, API pages) as a parallel scan; Spark handles scheduling,
retries, and downstream shuffle exactly as for built-in sources.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

FORMAT_NAME = "manifest_corpus"


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
        with open(partition.path, encoding="utf-8", errors="replace") as fh:
            text = fh.read()
        # one row per document; tokenization downstream treats newlines as
        # whitespace (main.cc:73), so whole-file text is equivalent to the
        # reference's token stream
        yield (partition.doc_id, text)


class ManifestStreamReader(DataSourceStreamReader):
    """Streaming face of the same format: the manifest is a feed, each
    microbatch admits the next ``filesPerBatch`` documents. The offset is
    the count of manifest entries consumed — exactly-once by construction:
    replaying [start, end) re-reads the same positional slice (the way
    Kafka offsets or file-stream indices work), so a replayed batch holds
    the same doc ids, and batches cover disjoint ranges because the
    admission cursor never falls behind the position Spark has planned
    (``partitions`` catches it up on restart). Planning and offset
    tracking stay on the driver; document bytes are only ever read on
    executors, one file per partition task, so ingest bandwidth scales
    with the cluster, not the driver."""

    def __init__(self, options):
        self.manifest_path = options.get("path")
        if not self.manifest_path:
            raise ValueError("manifest_corpus requires .option('path', <manifest>)")
        self.files_per_batch = int(options.get("filesPerBatch", "16"))
        from mapreduce_model_spark.sources.manifest import read_manifest

        self._paths = read_manifest(self.manifest_path)
        self._served = 0

    def initialOffset(self):
        return {"index": 0}

    def latestOffset(self):
        # admission control: advance at most files_per_batch per trigger so
        # a huge backlog becomes bounded microbatches, not one giant batch
        self._served = min(len(self._paths), self._served + self.files_per_batch)
        return {"index": self._served}

    def partitions(self, start, end):
        # a restarted reader starts at 0, and Spark's first call re-plans
        # the last committed or replayed batch before any latestOffset:
        # resume admission from there, never behind it
        self._served = max(self._served, end["index"])
        return [
            _FilePartition(i + 1, self._paths[i])
            for i in range(start["index"], end["index"])
        ]

    def read(self, partition: _FilePartition):
        with open(partition.path, encoding="utf-8", errors="replace") as fh:
            yield (partition.doc_id, fh.read())

    def commit(self, end):
        pass


class ManifestDataSource(DataSource):
    @classmethod
    def name(cls):
        return FORMAT_NAME

    def schema(self):
        return "doc_id long, text string"

    def reader(self, schema):
        return ManifestCorpusReader(self.options)

    def streamReader(self, schema):
        return ManifestStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(ManifestDataSource)
