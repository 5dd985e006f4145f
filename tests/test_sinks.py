"""File-sink round trips: the letter-file text sink (reference A15) and the
partitioned-parquet scale path both must reproduce their source exactly."""

import glob
import os

from pyspark.sql import functions as F

from mapreduce_model_spark.operators.inverted_index import (
    format_output,
    invert,
    write_letter_files,
)
from mapreduce_model_spark.registry import table


def test_letter_file_sink_round_trip(spark, sf_dir, tmp_path):
    """write_letter_files emits letter=<c>/ dirs whose concatenated lines
    equal format_output, with per-letter (n_docs DESC, word ASC) order. A
    second write replaces the first, leaving no .crc files or _staging."""
    docs = table(spark, sf_dir, "documents")
    out = str(tmp_path / "letters")
    write_letter_files(invert(docs.limit(300)), out)
    idx = invert(docs.limit(120))
    write_letter_files(idx, out)

    expected: dict[str, list[str]] = {}
    for r in format_output(idx).collect():  # invert is letter-ordered
        expected.setdefault(r.letter, []).append(r.line)

    got: dict[str, list[str]] = {}
    for d in sorted(glob.glob(os.path.join(out, "letter=*"))):
        letter = d.rsplit("=", 1)[1]
        lines: list[str] = []
        for part in sorted(glob.glob(os.path.join(d, "part-*"))):
            with open(part) as fh:
                lines += [l.rstrip("\n") for l in fh if l.strip()]
        got[letter] = lines

    assert set(got) == set(expected)
    for letter in expected:
        assert got[letter] == expected[letter], f"letter {letter}"
    assert not glob.glob(os.path.join(out, "**", "*.crc"), recursive=True)
    assert not glob.glob(os.path.join(out, "**", ".*.crc"), recursive=True)
    assert not os.path.exists(os.path.join(out, "_staging"))


def test_partitioned_parquet_round_trip(spark, sf_dir, tmp_path):
    """The 100 TB sink shape: parquet partitioned on the grouping column;
    read-back must be value-identical (partition column round-trips through
    the directory encoding)."""
    idx = invert(table(spark, sf_dir, "documents").limit(300)).select(
        "letter", "word", "docs", "n_docs"
    )
    out = str(tmp_path / "pq")
    idx.write.mode("overwrite").partitionBy("letter").parquet(out)
    back = spark.read.parquet(out)
    a = {(r.word, tuple(r.docs), r.n_docs, r.letter) for r in idx.collect()}
    b = {(r.word, tuple(r.docs), r.n_docs, r.letter) for r in back.collect()}
    assert a == b


def test_write_observed_metrics_match_data(spark, sf_dir, tmp_path):
    """df.observe metrics ride the write job: rows + null counts equal the
    ground truth without a second scan of the input."""
    from mapreduce_model_spark.registry import table
    from mapreduce_model_spark.sinks import write_observed
    from pyspark.sql import functions as F

    df = table(spark, sf_dir, "orders").withColumn(
        "maybe_null", F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice"))
    )
    out = str(tmp_path / "observed")
    m = write_observed(df, out, metric_cols=["maybe_null", "o_orderstatus"])
    n = df.count()
    n_null = df.filter(F.col("maybe_null").isNull()).count()
    assert m["rows"] == n
    assert m["nulls_maybe_null"] == n_null
    assert m["nulls_o_orderstatus"] == 0
    assert spark.read.parquet(out).count() == n


def _file_ranges(path: str, cols: list[str]) -> list[dict[str, tuple]]:
    """Per parquet file: (min, max) of each col from footer stats only."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        mins: dict[str, float] = {}
        maxs: dict[str, float] = {}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in cols and col.statistics is not None:
                    st = col.statistics
                    mins[name] = min(mins.get(name, st.min), st.min)
                    maxs[name] = max(maxs.get(name, st.max), st.max)
        out.append({c: (mins[c], maxs[c]) for c in cols})
    return out


def test_zorder_write_skips_on_every_clustered_column(spark, sf_dir, tmp_path):
    """Z-order clustering must make parquet footer stats selective on BOTH
    clustered columns at once: the mean per-file fraction of each column's
    global range stays well under 1, while a round-robin write covers ~the
    full range in every file (no skipping possible)."""
    from mapreduce_model_spark.sinks import zorder_write

    ev = table(spark, sf_dir, "events").select("user_id", "value")
    cols = ["user_id", "value"]
    glo = ev.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()

    z_path, rr_path = str(tmp_path / "z"), str(tmp_path / "rr")
    zorder_write(ev, z_path, cols, n_files=16)
    ev.repartition(16).write.mode("overwrite").parquet(rr_path)

    def mean_frac(path: str, col: str) -> float:
        fracs = []
        span = glo[f"mx_{col}"] - glo[f"mn_{col}"]
        for fr in _file_ranges(path, cols):
            lo, hi = fr[col]
            fracs.append((hi - lo) / span)
        return sum(fracs) / len(fracs)

    for c in cols:
        rr, zz = mean_frac(rr_path, c), mean_frac(z_path, c)
        # 16 files, 2 dims -> ideal per-file extent ~1/4 of each dim; outliers
        # widen both layouts equally, so assert the relative win too
        assert rr > 0.5, f"round-robin should span {c} (got {rr})"
        assert zz < 0.5, f"z-order should cluster {c} (got {zz})"
        assert zz < 0.7 * rr, f"z-order should beat round-robin on {c}"

    # value-identical round trip
    assert spark.read.parquet(z_path).exceptAll(ev).count() == 0
    assert ev.exceptAll(spark.read.parquet(z_path)).count() == 0


def test_catalog_stats_feed_cbo(spark, sf_dir):
    """ANALYZE TABLE writes row/column statistics into the catalog, and
    with CBO enabled the optimizer's cost view carries them (rowCount +
    column distinct counts) — the statistics lever that drives join
    reordering and broadcast decisions on a real warehouse, where file
    size alone misleads (compressed parquet vs in-memory row width)."""
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.mode("overwrite").saveAsTable(
        "nation_stats_t"
    )
    try:
        spark.sql("ANALYZE TABLE nation_stats_t COMPUTE STATISTICS FOR ALL COLUMNS")
        desc = {
            r.info_name: r.info_value
            for r in spark.sql("DESCRIBE EXTENDED nation_stats_t n_nationkey").collect()
        }
        assert desc["distinct_count"] == "25"
        assert desc["num_nulls"] == "0"
        old = spark.conf.get("spark.sql.cbo.enabled")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            cost = spark._jvm.PythonSQLUtils.explainString(
                spark.table("nation_stats_t")._jdf.queryExecution(), "cost"
            )
            assert "rowCount=25" in cost
        finally:
            spark.conf.set("spark.sql.cbo.enabled", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_stats_t")
