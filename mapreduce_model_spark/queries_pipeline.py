"""Training-data-pipeline queries + relational depth (round-2 surface).

Pipeline ops a 100 TB pre-training corpus build needs beyond dedup/quality
(queries_dedup / queries_text): deterministic sampling and splits (hash-based
— reproducible on any cluster size, no RNG state), corpus mixing stats, PII
scrubbing, and repetition signals (Gopher). Plus relational coverage widened:
distribution window functions, correlated scalar subquery, HAVING, histogram
binning, extended string scalars, embedding norms.

Hash-portability discipline (functions.text): every sampling/split decision
derives from md5 — identical in Spark and DuckDB — never from engine-private
``hash``/``xxhash64``/``random``. At scale this also means re-runs and
backfills select the SAME rows (idempotent pipelines), which RNG sampling
cannot guarantee.

Heritage: the reference's only sampling-adjacent structure is its static
letter-range partitioning (main.cc:132-141) — everything here is north-star
surface (BASELINE.json: LLM-data-pipeline operators as first-class).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreduce_model_spark.functions.dedup_sql import words_sql
from mapreduce_model_spark.functions.rounding import rnd
from mapreduce_model_spark.functions.text import C_SPACE, md5_int32, sql_md5_int32
from mapreduce_model_spark.registry import query, table

# --- deterministic sampling / splits --------------------------------------

# Per-source keep rates (percent). Hash-mod sampling keeps ~rate% of each
# stratum deterministically; at 100 TB this is a pure narrow filter pushed
# into the scan stage — no shuffle, no RNG seed plumbing.
_HEAVY_SOURCES = ("src0", "src1", "src2", "src3", "src4")
_HEAVY_RATE = 50
_LIGHT_RATE = 20

_SRC_LIST = ", ".join(f"'{s}'" for s in _HEAVY_SOURCES)


@query(
    "sample_stratified",
    oracle=f"""
SELECT doc_id, source, lang
FROM documents
WHERE {sql_md5_int32("'sample:' || CAST(doc_id AS VARCHAR)")} % 100
      < CASE WHEN source IN ({_SRC_LIST}) THEN {_HEAVY_RATE} ELSE {_LIGHT_RATE} END
""",
)
def sample_stratified(spark, sf_dir):
    """Deterministic per-source downsampling: keep ~50% of the heavy sources
    and ~20% of the rest, selected by md5(doc_id) mod 100. Same rows on every
    run, any partitioning — the reproducibility contract RNG sampling lacks."""
    docs = table(spark, sf_dir, "documents")
    bucket = md5_int32(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))) % 100
    rate = F.when(F.col("source").isin(*_HEAVY_SOURCES), _HEAVY_RATE).otherwise(
        _LIGHT_RATE
    )
    return docs.filter(bucket < rate).select("doc_id", "source", "lang")


@query(
    "train_val_split",
    oracle=f"""
WITH assigned AS (
    SELECT source, n_chars,
           CASE WHEN {sql_md5_int32("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 80
                THEN 'train'
                WHEN {sql_md5_int32("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 90
                THEN 'val' ELSE 'test' END AS split
    FROM documents
)
SELECT source, split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM assigned GROUP BY source, split
""",
)
def train_val_split(spark, sf_dir):
    """80/10/10 train/val/test assignment by md5 bucket, reported per source.
    The salt ('split:') decorrelates this hash from sample_stratified's — a
    doc's sample fate and split fate are independent."""
    docs = table(spark, sf_dir, "documents")
    bucket = md5_int32(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "corpus_mix",
    oracle="""
WITH per AS (
    SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source, lang
), tot AS (SELECT count(*) AS n_total FROM documents)
SELECT source, lang, n_docs, total_chars,
       round(1e-9 + CAST(n_docs AS DOUBLE) / n_total, 6) AS doc_share
FROM per CROSS JOIN tot
""",
)
def corpus_mix(spark, sf_dir):
    """Corpus composition by (source, lang): doc counts, char volume, and
    share of corpus — the mixing table a data curriculum is planned from.
    The grand total is a 1-row broadcast, not a global window."""
    docs = table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n_total"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        rnd(F.col("n_docs").cast("double") / F.col("n_total"), 6).alias("doc_share"),
    )


_MIX_ALPHA = 0.7
_MIX_BUDGET_FRAC = 0.2


@query(
    "corpus_mix_temperature",
    oracle=f"""
WITH per AS (
    SELECT source, count(*) AS n_docs FROM documents GROUP BY source
), tot AS (
    SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
           sum(pow(n_docs, {_MIX_ALPHA})) AS z
    FROM per
), thr AS (
    SELECT source, n_docs,
           CAST(n_docs AS DOUBLE) / n_total AS p,
           pow(n_docs, {_MIX_ALPHA}) / z AS q,
           CAST(round(least(1.0, (pow(n_docs, {_MIX_ALPHA}) / z)
                                 * floor(n_total * {_MIX_BUDGET_FRAC}) / n_docs)
                      * 1000000 + 1e-3) AS BIGINT) AS sample_threshold
    FROM per CROSS JOIN tot
), sampled AS (
    SELECT d.source, count(*) AS n_sampled
    FROM documents d JOIN thr USING (source)
    WHERE {sql_md5_int32("'tsample:' || CAST(doc_id AS VARCHAR)")} % 1000000
          < sample_threshold
    GROUP BY d.source
)
SELECT t.source, t.n_docs,
       round(1e-9 + p, 6) AS doc_share,
       round(1e-9 + q, 6) AS temp_share,
       sample_threshold,
       coalesce(n_sampled, 0) AS n_sampled
FROM thr t LEFT JOIN sampled s ON s.source = t.source
""",
)
def corpus_mix_temperature(spark, sf_dir):
    """Temperature-scaled source mixing (the multilingual-LM recipe:
    sample source s with probability ∝ share^α, α=0.7) plus the
    deterministic doc-level sample it implies: per-source sampling
    thresholds are integerized once (round(rate·1e6)), then membership is
    a pure hash comparison — idempotent across reruns and cluster sizes,
    no RNG state anywhere. Output is the reviewable mixing table: raw
    share, temperature share, threshold, and the docs actually admitted.

    Scale shape: the mixing math runs on the |sources|-row aggregate (one
    corpus-scan groupBy with map-side combine, then a 1-row totals
    broadcast); the admission pass re-scans the corpus ONCE with the
    threshold table broadcast — narrow filter + algebraic count, no
    shuffle of document rows, nothing driver-side."""
    docs = table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.pow("n_docs", F.lit(_MIX_ALPHA))).alias("z"),
    )
    q = F.pow("n_docs", F.lit(_MIX_ALPHA)) / F.col("z")
    rate = F.least(
        F.lit(1.0),
        q * F.floor(F.col("n_total") * _MIX_BUDGET_FRAC) / F.col("n_docs"),
    )
    # thr is |sources| rows and feeds both output branches — checkpoint so
    # the stats-side corpus scan runs once (sharing a frame: registry.py)
    thr = (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("n_total")).alias("p"),
            q.alias("q"),
            F.round(rate * 1000000 + 1e-3).cast("long").alias("sample_threshold"),
        )
        .localCheckpoint(eager=False)
    )
    h = md5_int32(F.concat(F.lit("tsample:"), F.col("doc_id").cast("string")))
    sampled = (
        docs.select("source", h.alias("_h"))
        .join(F.broadcast(thr.select("source", "sample_threshold")), "source")
        .filter(F.col("_h") % 1000000 < F.col("sample_threshold"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return thr.join(F.broadcast(sampled), "source", "left").select(
        "source",
        "n_docs",
        rnd(F.col("p"), 6).alias("doc_share"),
        rnd(F.col("q"), 6).alias("temp_share"),
        "sample_threshold",
        F.coalesce(F.col("n_sampled"), F.lit(0)).cast("long").alias("n_sampled"),
    )


# --- PII scrubbing ---------------------------------------------------------

_EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.]+[a-z]"
_PHONE_RE = r"[0-9]{3}-[0-9]{4}"


@query(
    "pii_scrub",
    oracle=f"""
WITH seeded AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or 555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text2
    FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text2, '{_EMAIL_RE}'))  AS n_emails,
       len(regexp_extract_all(text2, '{_PHONE_RE}'))  AS n_phones,
       md5(regexp_replace(regexp_replace(text2, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS scrub_hash
FROM seeded
""",
)
def pii_scrub(spark, sf_dir):
    """Regex PII redaction (emails, phone numbers) with match counts and a
    hash of the scrubbed text. The synthetic corpus carries no PII, so each
    doc is first seeded with a deterministic address+number — both engines
    build the identical input, then the scrub path is verified end-to-end.
    Pure narrow projection: at 100 TB this runs inside the scan stage."""
    docs = table(spark, sf_dir, "documents")
    text2 = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    seeded = docs.select("doc_id", text2.alias("text2"))
    scrubbed = F.regexp_replace(
        F.regexp_replace("text2", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return seeded.select(
        "doc_id",
        F.regexp_count("text2", F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("text2", F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(scrubbed).alias("scrub_hash"),
    )


# --- repetition signals (Gopher) ------------------------------------------

_REP_WBASE = rf"""
WITH wbase AS (
    SELECT doc_id,
           {words_sql()} AS words
    FROM documents
)
"""


@query(
    "repetition_stats",
    oracle=_REP_WBASE
    + """
, w AS (SELECT doc_id, unnest(words) AS word FROM wbase),
wc AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
wstat AS (
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
           round(1e-9 + CAST(count(*) AS DOUBLE) / sum(tf), 4)  AS distinct_ratio,
           round(1e-9 + CAST(max(tf) AS DOUBLE) / sum(tf), 4)   AS top_word_frac
    FROM wc GROUP BY doc_id
), big AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(words)),
                                 i -> words[i] || ' ' || words[i + 1])) AS bg
    FROM wbase WHERE len(words) >= 2
), bc AS (SELECT doc_id, bg, count(*) AS tf FROM big GROUP BY doc_id, bg),
bstat AS (
    SELECT doc_id,
           round(1e-9 + CAST(max(tf) AS DOUBLE) / sum(tf), 4) AS top_bigram_frac
    FROM bc GROUP BY doc_id
)
SELECT wstat.doc_id, n_words, distinct_ratio, top_word_frac, top_bigram_frac
FROM wstat LEFT JOIN bstat ON wstat.doc_id = bstat.doc_id
""",
)
def repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals per doc: distinct-word ratio, top-word
    fraction, top-bigram fraction. Two narrow explode+agg branches joined on
    doc_id — each branch shuffles (doc_id, gram) counts, never raw text."""
    from mapreduce_model_spark.functions.partitioning import spread_for_fanout
    from mapreduce_model_spark.functions.text import shingles, words_array

    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", words_array("text").alias("words")
    )
    wc = (
        docs.select("doc_id", F.explode("words").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wstat = wc.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_words"),
        rnd(F.count(F.lit(1)).cast("double") / F.sum("tf"), 4).alias("distinct_ratio"),
        rnd(F.max("tf").cast("double") / F.sum("tf"), 4).alias("top_word_frac"),
    )
    bc = (
        docs.filter(F.size("words") >= 2)
        .select("doc_id", F.explode(shingles(F.col("words"), 2)).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    bstat = bc.groupBy("doc_id").agg(
        rnd(F.max("tf").cast("double") / F.sum("tf"), 4).alias("top_bigram_frac")
    )
    return wstat.join(bstat, "doc_id", "left").select(
        "doc_id", "n_words", "distinct_ratio", "top_word_frac", "top_bigram_frac"
    )


# --- relational depth ------------------------------------------------------

@query(
    "window_distribution",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       ntile(4)       OVER w                                   AS quartile,
       round(1e-9 + percent_rank() OVER w, 6)                  AS pct_rank,
       round(1e-9 + cume_dist()    OVER w, 6)                  AS cum_dist,
       first_value(o_orderkey) OVER wf                         AS first_key,
       last_value(o_orderkey)  OVER wf                         AS last_key,
       nth_value(o_orderkey, 2) OVER wf                        AS second_key
FROM orders
WINDOW w  AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
       wf AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def window_distribution(spark, sf_dir):
    """Distribution window functions (ntile/percent_rank/cume_dist) and
    positional values (first/last/nth) — explicit full frame for the
    positional ones (the default frame stops at CURRENT ROW, which would
    make last_value degenerate). One shuffle on o_orderpriority."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        rnd(F.percent_rank().over(w), 6).alias("pct_rank"),
        rnd(F.cume_dist().over(w), 6).alias("cum_dist"),
        F.first("o_orderkey").over(wf).alias("first_key"),
        F.last("o_orderkey").over(wf).alias("last_key"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_key"),
    )


@query(
    "subquery_scalar",
    oracle="""
SELECT o_orderkey, o_custkey,
       round(1e-9 + o_totalprice, 2) AS o_totalprice,
       round(1e-9 + o_totalprice /
             (SELECT avg(o2.o_totalprice) FROM orders o2
               WHERE o2.o_custkey = o.o_custkey), 4) AS vs_cust_avg
FROM orders o
WHERE o_totalprice > 1.2 * (SELECT avg(o2.o_totalprice) FROM orders o2
                             WHERE o2.o_custkey = o.o_custkey)
""",
)
def subquery_scalar(spark, sf_dir):
    """Correlated scalar subquery (orders 20% above their customer's mean),
    decorrelated the way Catalyst itself would: one aggregate per customer
    joined back — the per-customer mean is computed once, not per row."""
    o = table(spark, sf_dir, "orders")
    avgs = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.avg("o_totalprice").alias("cust_avg")
    )
    return (
        o.join(avgs, o.o_custkey == avgs.k)
        .filter(F.col("o_totalprice") > 1.2 * F.col("cust_avg"))
        .select(
            "o_orderkey",
            "o_custkey",
            rnd("o_totalprice", 2).alias("o_totalprice"),
            rnd(F.col("o_totalprice") / F.col("cust_avg"), 4).alias("vs_cust_avg"),
        )
    )


@query(
    "having_agg",
    oracle="""
SELECT l_orderkey,
       round(1e-9 + sum(l_quantity), 2) AS sum_qty,
       count(*) AS n_lines
FROM lineitem
GROUP BY l_orderkey
HAVING sum(l_quantity) > 200
""",
)
def having_agg(spark, sf_dir):
    """GROUP BY + HAVING (TPC-H Q18's inner shape): the post-aggregate
    predicate runs on the agg output — tiny vs the input, no second scan."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("_sq"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .filter(F.col("_sq") > 200)
        .select("l_orderkey", rnd("_sq", 2).alias("sum_qty"), "n_lines")
    )


@query(
    "value_histogram",
    oracle="""
SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
       count(*)                                      AS n,
       round(1e-9 + min(l_extendedprice), 2)         AS bin_min,
       round(1e-9 + max(l_extendedprice), 2)         AS bin_max
FROM lineitem GROUP BY bin
""",
)
def value_histogram(spark, sf_dir):
    """Fixed-width histogram via arithmetic binning — the portable (and
    shuffle-light: one agg on a small key space) histogram pattern."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.withColumn(
            "bin", F.floor(F.col("l_extendedprice") / 5000).cast("long")
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            rnd(F.min("l_extendedprice"), 2).alias("bin_min"),
            rnd(F.max("l_extendedprice"), 2).alias("bin_max"),
        )
    )


@query(
    "string_funcs2",
    oracle="""
SELECT p_partkey,
       levenshtein(p_name, p_type)              AS name_type_dist,
       split_part(p_name, ' ', 1)               AS first_word,
       translate(p_brand, '#', '-')             AS brand_dashed,
       repeat(left(p_name, 2), 3)               AS rep2x3,
       reverse(p_name)                          AS name_rev,
       strpos(p_name, 'a')                      AS a_pos,
       right(p_type, 3)                         AS type_tail,
       contains(p_name, 'red')                  AS has_red
FROM part
""",
)
def string_funcs2(spark, sf_dir):
    """Extended string scalar surface: edit distance, field splitting,
    char translation, positional ops — all JVM built-ins with identical
    DuckDB definitions."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.levenshtein("p_name", "p_type").cast("long").alias("name_type_dist"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.repeat(F.substring("p_name", 1, 2), 3).alias("rep2x3"),
        F.reverse("p_name").alias("name_rev"),
        F.instr("p_name", "a").cast("long").alias("a_pos"),
        F.substring(F.col("p_type"), -3, 3).alias("type_tail"),
        F.col("p_name").contains("red").alias("has_red"),
    )


# --- CDC merge / decontamination ------------------------------------------

@query(
    "merge_upsert_customers",
    oracle="""
WITH upd AS (
    SELECT c_custkey, c_name, c_nationkey,
           avg(o_totalprice) AS c_acctbal, c_mktsegment
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name, c_nationkey, c_mktsegment
), merged AS (
    SELECT * FROM customer
    WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
    UNION ALL
    SELECT * FROM upd
)
SELECT c_custkey, c_name, c_nationkey,
       round(1e-9 + c_acctbal, 2) AS c_acctbal, c_mktsegment
FROM merged
""",
)
def merge_upsert_customers(spark, sf_dir):
    """Batch CDC MERGE: a changeset (customers' balances recomputed from
    their orders) upserted into the customer table — anti join keeps the
    untouched rows, union inserts the new versions (operators.merge). The
    changeset side is broadcast: the common small-delta case never
    shuffles the big target."""
    from mapreduce_model_spark.operators.merge import merge_upsert

    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    updates = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
        .agg(F.avg("o_totalprice").alias("c_acctbal"))
    )
    merged = merge_upsert(c, updates, "c_custkey")
    return merged.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        rnd("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment",
    )


# Eval-set decontamination: src0 plays the held-out benchmark corpus.
_EVAL_SOURCE = "src0"

_NORM_SQL = f"trim(regexp_replace(lower(text), '{C_SPACE}+', ' ', 'g'))"


@query(
    "decontaminate_exact",
    oracle=f"""
WITH ev AS (
    SELECT DISTINCT md5({_NORM_SQL}) AS h
    FROM documents WHERE source = '{_EVAL_SOURCE}'
)
SELECT doc_id, source FROM documents
WHERE source <> '{_EVAL_SOURCE}'
  AND md5({_NORM_SQL}) NOT IN (SELECT h FROM ev)
""",
)
def decontaminate_exact(spark, sf_dir):
    """Training-set decontamination, exact: drop any training doc whose
    normalized text hash appears in the eval corpus. An anti join on a
    16-byte hash — the eval side is tiny and broadcasts, so the 100 TB
    training side never shuffles."""
    from mapreduce_model_spark.operators.dedup import normalize_text

    docs = table(spark, sf_dir, "documents")
    h = F.md5(normalize_text(F.col("text")))
    ev = (
        docs.filter(F.col("source") == _EVAL_SOURCE)
        .select(h.alias("h"))
        .distinct()
    )
    train = docs.filter(F.col("source") != _EVAL_SOURCE).select(
        "doc_id", "source", h.alias("h")
    )
    return train.join(F.broadcast(ev), "h", "left_anti").select("doc_id", "source")


_SH5_SQL = r"""
           list_distinct(list_transform(range(1, len(words) - 3),
                                        i -> array_to_string(words[i:i+4], ' ')))
"""

_DECON_WBASE = rf"""
WITH wbase AS (
    SELECT doc_id, source,
           {words_sql()} AS words
    FROM documents
)
"""


@query(
    "decontaminate_ngram",
    oracle=_DECON_WBASE
    + f"""
, ev AS (
    SELECT DISTINCT ('0x' || substr(md5(s), 1, 8))::BIGINT AS x
    FROM (SELECT unnest({_SH5_SQL}) AS s
          FROM wbase WHERE source = '{_EVAL_SOURCE}' AND len(words) >= 5)
), tr AS (
    SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS x
    FROM (SELECT doc_id, unnest({_SH5_SQL}) AS s
          FROM wbase WHERE source <> '{_EVAL_SOURCE}' AND len(words) >= 5)
), hits AS (
    SELECT doc_id, count(*) AS n_shared FROM tr JOIN ev USING (x) GROUP BY doc_id
)
SELECT w.doc_id, w.source,
       CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
       coalesce(n_shared, 0) = 0             AS keep
FROM wbase w LEFT JOIN hits ON w.doc_id = hits.doc_id
WHERE w.source <> '{_EVAL_SOURCE}'
""",
)
def decontaminate_ngram(spark, sf_dir):
    """Training-set decontamination, n-gram: flag training docs sharing any
    5-gram with the eval corpus (the benchmark-overlap rule used for
    pre-training data). n_shared counts the doc's distinct contaminated
    shingles. The eval shingle-hash set is small (eval corpora are) →
    broadcast; training-side work is one explode + one semi-style join,
    no pair join anywhere."""
    from mapreduce_model_spark.functions.text import shingles, words_array
    from mapreduce_model_spark.functions.partitioning import spread_for_fanout

    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "source", words_array("text").alias("words")
    )

    def sh5(df):
        return (
            df.filter(F.size("words") >= 5)
            .select(
                "doc_id",
                F.explode(F.array_distinct(shingles(F.col("words"), 5))).alias("s"),
            )
            .select("doc_id", md5_int32(F.col("s")).alias("x"))
        )

    ev = sh5(docs.filter(F.col("source") == _EVAL_SOURCE)).select("x").distinct()
    tr = sh5(docs.filter(F.col("source") != _EVAL_SOURCE))
    hits = tr.join(F.broadcast(ev), "x").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    train = docs.filter(F.col("source") != _EVAL_SOURCE).select("doc_id", "source")
    return (
        train.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) == 0).alias("keep"),
        )
    )


# Bloom-filter geometry: m bits packed 32-per-BIGINT word (sign-safe shifts
# in both engines), k md5-derived probe positions per key.
_BLOOM_BITS = 4096
_BLOOM_WORD = 32
_BLOOM_K = 4


def _bloom_pos(i, th):
    """Probe position i for key column ``th`` — md5-derived, so DuckDB
    rebuilds the identical filter bit-for-bit."""
    return md5_int32(F.concat(F.lit(f"bloom{i}:"), th)) % _BLOOM_BITS


@query(
    "decontaminate_bloom",
    oracle=f"""
WITH h AS (
    SELECT doc_id, source, md5({_NORM_SQL}) AS th FROM documents
), ev AS (
    SELECT DISTINCT th FROM h WHERE source = '{_EVAL_SOURCE}'
), bf AS (
    SELECT x // {_BLOOM_WORD} AS w_idx,
           bit_or(1::BIGINT << (x % {_BLOOM_WORD})) AS w
    FROM (SELECT ('0x' || substr(md5('bloom' || i::VARCHAR || ':' || th), 1, 8))::BIGINT
                 % {_BLOOM_BITS} AS x
          FROM ev CROSS JOIN range(0, {_BLOOM_K}) t(i))
    GROUP BY w_idx
), tr AS (
    SELECT doc_id, source, th FROM h WHERE source <> '{_EVAL_SOURCE}'
), probe AS (
    SELECT doc_id, source,
           bool_and((coalesce(w, 0) & (1::BIGINT << (x % {_BLOOM_WORD}))) <> 0) AS bloom_hit
    FROM (SELECT doc_id, source,
                 ('0x' || substr(md5('bloom' || i::VARCHAR || ':' || th), 1, 8))::BIGINT
                 % {_BLOOM_BITS} AS x
          FROM tr CROSS JOIN range(0, {_BLOOM_K}) t(i)) p
    LEFT JOIN bf ON bf.w_idx = p.x // {_BLOOM_WORD}
    GROUP BY doc_id, source
), flags AS (
    SELECT p.doc_id, p.source, p.bloom_hit,
           t.th IN (SELECT th FROM ev) AS exact_hit
    FROM probe p JOIN tr t ON p.doc_id = t.doc_id
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
       CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits,
       CAST(sum(CASE WHEN bloom_hit AND NOT exact_hit THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_pos
FROM flags GROUP BY source
""",
)
def decontaminate_bloom(spark, sf_dir):
    """Bloom-filter decontamination screen: the eval corpus is folded into a
    {_BLOOM_BITS}-bit / k={_BLOOM_K} Bloom filter and every training doc is
    probed against it, reported per source alongside the exact answer so the
    false-positive cost of the filter is measured, not assumed.

    Scale shape — this is the 100 TB lever `decontaminate_exact` lacks: the
    exact screen broadcasts the eval HASH SET, which stops fitting when the
    eval/blocklist corpus itself is large; the Bloom filter is a CONSTANT
    ~16 KB regardless of eval size, built by an OR-mergeable ≤128-row
    aggregate (map-side combine does almost all of it), re-entering the plan
    as a broadcast 1-row word map. The probe is pure narrow bit math per
    training row — no shuffle of the training corpus at all; the only
    training-sized work is the final per-source count aggregate. In a real
    pipeline the filter screens cheaply and the few bloom-positive docs are
    re-checked exactly (n_false_pos here bounds that second pass).
    """
    from mapreduce_model_spark.operators.dedup import normalize_text

    docs = table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", "source", F.md5(normalize_text(F.col("text"))).alias("th")
    )
    ev = h.filter(F.col("source") == _EVAL_SOURCE).select("th").distinct()

    # Build: k positions per eval hash -> (word, bit) -> BIT_OR per word.
    pos = ev.select(
        F.explode(F.array(*[_bloom_pos(i, F.col("th")) for i in range(_BLOOM_K)])).alias("x")
    )
    bf = (
        pos.select(
            F.expr(f"x div {_BLOOM_WORD}").alias("w_idx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(x % {_BLOOM_WORD} AS INT))"
            ).alias("bit"),
        )
        .groupBy("w_idx")
        .agg(F.bit_or("bit").alias("w"))
    )
    bf_row = bf.agg(
        F.map_from_arrays(F.collect_list("w_idx"), F.collect_list("w")).alias("bf")
    )

    tr = h.filter(F.col("source") != _EVAL_SOURCE)
    probed = tr.crossJoin(F.broadcast(bf_row))  # 1-row broadcast, no shuffle
    for i in range(_BLOOM_K):
        probed = probed.withColumn(f"_p{i}", _bloom_pos(i, F.col("th")))
    hit = F.lit(True)
    for i in range(_BLOOM_K):
        word = F.coalesce(
            F.element_at(F.col("bf"), F.expr(f"_p{i} div {_BLOOM_WORD}")),
            F.lit(0).cast("long"),
        )
        bit = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(_p{i} % {_BLOOM_WORD} AS INT))"
        )
        hit = hit & (word.bitwiseAND(bit) != 0)

    evm = ev.withColumn("is_ev", F.lit(True))
    flagged = (
        probed.withColumn("bloom_hit", hit)
        .join(F.broadcast(evm), "th", "left")
        .withColumn("exact_hit", F.coalesce("is_ev", F.lit(False)))
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        one(F.col("bloom_hit")).alias("n_bloom_hits"),
        one(F.col("exact_hit")).alias("n_exact_hits"),
        one(F.col("bloom_hit") & ~F.col("exact_hit")).alias("n_false_pos"),
    )


@query(
    "embedding_norms",
    oracle="""
WITH v AS (
    SELECT label,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
)
SELECT label, count(*) AS n_vecs,
       round(1e-9 + avg(nrm), 4) AS avg_norm,
       round(1e-9 + min(nrm), 6) AS min_norm,
       round(1e-9 + max(nrm), 6) AS max_norm
FROM v GROUP BY label
""",
)
def embedding_norms(spark, sf_dir):
    """Embedding-table hygiene stats: L2 norm distribution per label (zero
    or exploding norms are the standard upstream-encoder failure signals).
    Dot product in double precision, left-to-right — bit-identical to
    DuckDB's list_dot_product (see queries_similarity)."""
    emb = table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            rnd(F.avg("nrm"), 4).alias("avg_norm"),
            rnd(F.min("nrm"), 6).alias("min_norm"),
            rnd(F.max("nrm"), 6).alias("max_norm"),
        )
    )


# --- UDF surface: applyInPandas (A20) + regression aggregates --------------

@query(
    "group_zscore",
    oracle="""
WITH stats AS (
    SELECT user_id, avg(value) AS mu, stddev_samp(value) AS sd
    FROM events GROUP BY user_id
)
SELECT event_id, e.user_id AS user_id,
       round(1e-9 + CASE WHEN sd > 0 THEN (value - mu) / sd ELSE 0.0 END, 4)
           AS zscore
FROM events e JOIN stats USING (user_id)
""",
)
def group_zscore(spark, sf_dir):
    """Per-user z-score normalization through ``applyInPandas`` — the
    grouped-map face of the reference's pluggable reduce fn (A20,
    main.cc:104): one shuffle on user_id, then each group is one Arrow
    batch in pandas. Here the arithmetic is also SQL-expressible, which is
    exactly what makes the Python path oracle-checkable — ddof=1 std in
    both engines, zero-variance groups pinned to 0. For ops built-ins CAN
    express, prefer built-ins (10-100x: no serialization, codegen) — this
    query exists to verify the custom-operator escape hatch end-to-end."""
    import pandas as pd

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")

    def _z(pdf: pd.DataFrame) -> pd.DataFrame:
        sd = pdf["value"].std(ddof=1)
        mu = pdf["value"].mean()
        z = (pdf["value"] - mu) / sd if (pd.notna(sd) and sd > 0) else 0.0
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "zscore": (z + 1e-9).round(4),
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        _z, "event_id bigint, user_id bigint, zscore double"
    )


@query(
    "scd2_history",
    oracle="""
SELECT o_custkey,
       round(1e-9 + o_totalprice, 2) AS attr_price,
       o_orderdate                   AS valid_from,
       LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS valid_to,
       LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) IS NULL
                                     AS is_current
FROM orders
""",
)
def scd2_history(spark, sf_dir):
    """Type-2 slowly-changing dimension build from a change feed: each
    change becomes a version row with [valid_from, valid_to) validity and
    an is_current flag — valid_to is the NEXT change's timestamp (lead
    over the business key, tie-broken to a total order). This is the
    history-tracking complement of merge_upsert_customers' latest-state
    (SCD1) merge; downstream point-in-time joins become range joins on
    the validity interval (join_range). One exchange on the business key;
    at 100 TB the incremental variant windows only keys present in the
    delta, exactly like rollup_incremental's delta-sized maintenance."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            rnd(F.col("o_totalprice"), 2).alias("attr_price"),
            F.col("o_orderdate").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
    )


_N_SHARDS = 8


@query(
    "shuffle_shards",
    oracle=f"""
SELECT doc_id,
       {sql_md5_int32("'shard:' || CAST(doc_id AS VARCHAR)")} % {_N_SHARDS} AS shard,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY {sql_md5_int32("'shard:' || CAST(doc_id AS VARCHAR)")} % {_N_SHARDS}
           ORDER BY {sql_md5_int32("'pos:' || CAST(doc_id AS VARCHAR)")}, doc_id
       ) AS BIGINT) AS pos
FROM documents
""",
)
def shuffle_shards(spark, sf_dir):
    """The global training-data shuffle: every document gets a
    deterministic (shard, position-in-shard) from salted md5 hashes — the
    exact order a trainer will read, reproducible on any cluster size with
    no RNG state. A naive global ORDER BY rand() is a single total-order
    sort whose ties are nondeterministic; here the shard assignment is a
    hash (embarrassingly parallel) and the in-shard order is a per-shard
    window — one exchange on shard, sort within shard, which is also
    precisely how the shards land on disk (one sorted file each). The
    'pos:' salt decorrelates read order from shard assignment; doc_id
    tie-breaks make the order total."""
    docs = table(spark, sf_dir, "documents")
    shard = (
        md5_int32(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
        % _N_SHARDS
    )
    order = md5_int32(F.concat(F.lit("pos:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy("ord", "doc_id")
    return (
        docs.select("doc_id", shard.alias("shard"), order.alias("ord"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("ord")
    )


@query(
    "rollup_incremental",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT)              AS n,
       round(1e-9 + sum(value), 2)           AS sum_v,
       round(1e-9 + sum(value) / count(*), 4) AS avg_v
FROM events GROUP BY event_type
""",
)
def rollup_incremental(spark, sf_dir):
    """Materialized-rollup maintenance: a stored pre-aggregate over the
    historical partition (ts < cutoff) is MERGED with a fresh aggregate of
    the new partition — never re-scanning history — by summing the
    algebraic partial states (count, sum; avg derived at the end). The
    oracle is the full re-aggregation over all rows, which is the whole
    point: merge(partials) ≡ recompute. At 100 TB this turns a daily
    full-table rollup into a delta-sized job; only algebraic/distributive
    aggregates (sum/count/min/max, sketches) support it — holistic ones
    (median, exact distinct) need the skew.py two-phase forms or
    mergeable sketches (sketch_mergeable_distinct)."""
    ev = table(spark, sf_dir, "events")
    cutoff = "2024-01-15"

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
        )

    stored = partial(ev.filter(F.col("ts") < cutoff))  # "yesterday's rollup"
    delta = partial(ev.filter(F.col("ts") >= cutoff))  # today's new rows
    return (
        stored.unionByName(delta)
        .groupBy("event_type")
        .agg(F.sum("n").alias("nn"), F.sum("s").alias("ss"))
        .select(
            "event_type",
            F.col("nn").alias("n"),
            rnd(F.col("ss"), 2).alias("sum_v"),
            rnd(F.col("ss") / F.col("nn"), 4).alias("avg_v"),
        )
    )


@query(
    "arrow_group_stats",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT)                              AS n,
       round(1e-9 + min(value), 2)                           AS v_lo,
       round(1e-9 + max(value), 2)                           AS v_hi,
       round(1e-9 + max(value) - min(value), 4)              AS spread
FROM events GROUP BY event_type
""",
)
def arrow_group_stats(spark, sf_dir):
    """Per-type extrema through ``applyInArrow`` — the zero-copy Arrow
    twin of ``group_zscore``'s pandas grouped map (A20): one shuffle on
    the group key, each group arrives as a ``pyarrow.Table``, compute runs
    in Arrow kernels with no pandas materialization. For wide binary /
    nested columns (the multimodal path) this skips pandas' object-boxing
    entirely; like group_zscore it is deliberately SQL-expressible so the
    Arrow escape hatch itself is oracle-verified."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ev = table(spark, sf_dir, "events").select("event_type", "value")

    def _stats(tbl: pa.Table) -> pa.Table:
        v = tbl.column("value")
        lo, hi = pc.min(v).as_py(), pc.max(v).as_py()
        return pa.table(
            {
                "event_type": pa.array([tbl.column("event_type")[0].as_py()]),
                "n": pa.array([tbl.num_rows], pa.int64()),
                "v_lo": pa.array([round(lo + 1e-9, 2)], pa.float64()),
                "v_hi": pa.array([round(hi + 1e-9, 2)], pa.float64()),
                "spread": pa.array([round(hi - lo + 1e-9, 4)], pa.float64()),
            }
        )

    return ev.groupBy("event_type").applyInArrow(
        _stats,
        "event_type string, n bigint, v_lo double, v_hi double, spread double",
    )


@query(
    "regression_stats",
    oracle="""
SELECT event_type,
       count(*)                                                   AS n,
       round(1e-9 + regr_slope(value, epoch_us(ts) / 1000000.0), 8)     AS slope,
       round(1e-9 + regr_intercept(value, epoch_us(ts) / 1000000.0), 2) AS intercept,
       round(1e-9 + regr_r2(value, epoch_us(ts) / 1000000.0), 6)        AS r2
FROM events GROUP BY event_type
""",
)
def regression_stats(spark, sf_dir):
    """Linear-regression aggregates (slope/intercept/R² of value over time)
    per event type — single-pass distributed moments, no iteration, same
    estimator definitions in DuckDB."""
    ev = table(spark, sf_dir, "events")
    x = F.unix_micros("ts") / 1_000_000.0
    y = F.col("value")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.regr_slope(y, x), 8).alias("slope"),
        rnd(F.regr_intercept(y, x), 2).alias("intercept"),
        rnd(F.regr_r2(y, x), 6).alias("r2"),
    )


# --- data-quality audit -----------------------------------------------------

@query(
    "dq_audit",
    oracle="""
SELECT
    (SELECT count(*) FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
                                                              AS orphan_orders,
    (SELECT count(*) FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
                                                              AS orphan_lineitems,
    (SELECT count(*) FROM (SELECT o_orderkey FROM orders
                           GROUP BY o_orderkey HAVING count(*) > 1))
                                                              AS dup_order_keys,
    (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)     AS nonpositive_qty,
    (SELECT count(*) FROM lineitem
      WHERE l_discount < 0 OR l_discount > 1)                 AS bad_discount,
    (SELECT count(*) FROM orders WHERE o_totalprice IS NULL)  AS null_totalprice
""",
)
def dq_audit(spark, sf_dir):
    """Data-quality audit as one summary row: referential integrity
    (orphan FKs as join-indicator sums), key uniqueness, range and null
    checks. One Spark action, three aggregate subtrees cross-joined as
    1-row frames: lineitem is scanned ONCE (orphan + range checks share a
    pass), orders twice (FK/null pass + dup-key pass). No .count()/.first()
    round-trips — at 100 TB, five sequential driver actions means five
    times the scheduling latency and two redundant fact scans."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")

    # orders pass: orphan custkeys (broadcast dim indicator) + null prices
    ind = F.broadcast(
        c.select("c_custkey").distinct().withColumn("_c_hit", F.lit(1))
    )
    o_checks = (
        o.select("o_custkey", "o_totalprice")
        .join(ind, o.o_custkey == ind.c_custkey, "left")
        .agg(
            F.sum(F.col("_c_hit").isNull().cast("long")).alias("orphan_orders"),
            F.sum(F.col("o_totalprice").isNull().cast("long")).alias(
                "null_totalprice"
            ),
        )
    )
    # lineitem pass: orphan orderkeys + range checks, one scan
    # distinct: a duplicated order key (itself an audit finding) must not
    # fan out the lineitem rows and inflate the range-check sums
    okeys = o.select("o_orderkey").distinct().withColumn("_o_hit", F.lit(1))
    li_checks = (
        li.select("l_orderkey", "l_quantity", "l_discount")
        .join(okeys, li.l_orderkey == okeys.o_orderkey, "left")
        .agg(
            F.sum(F.col("_o_hit").isNull().cast("long")).alias("orphan_lineitems"),
            F.sum((F.col("l_quantity") <= 0).cast("long")).alias("nonpositive_qty"),
            F.sum(
                ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("long")
            ).alias("bad_discount"),
        )
    )
    dup_keys = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("dup_order_keys"))
    )
    return (
        o_checks.join(F.broadcast(li_checks))
        .join(F.broadcast(dup_keys))
        .select(
            "orphan_orders",
            "orphan_lineitems",
            "dup_order_keys",
            "nonpositive_qty",
            "bad_discount",
            "null_totalprice",
        )
    )


_INT_RE = r"^\s*[+-]?[0-9]+\s*$"
# standard numerics plus the special float literals try_cast itself accepts
# (Infinity/NaN) — the prefilter must ADMIT everything try_cast can parse,
# else Spark would NULL a value the DuckDB oracle's TRY_CAST converts
_NUM_RE = (
    r"^\s*[+-]?(([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?"
    r"|[Ii][Nn][Ff]([Ii][Nn][Ii][Tt][Yy])?|[Nn][Aa][Nn])\s*$"
)


def _guarded_try_cast(c, dtype, valid_re):
    """try_cast with a regexp validity prefilter. Under ANSI, a FAILING
    string cast raises-and-catches a JVM exception per row (~90 µs/row
    measured — 13x the whole projection) — ruinous when a column is
    mostly malformed. The prefilter routes obviously-unparseable values
    straight to NULL codegen-side, so try_cast's exception path fires only
    on regex-admitted anomalies (e.g. overflow), which it still converts
    to NULL instead of a job failure."""
    return F.when(c.rlike(valid_re), c).try_cast(dtype)


@query(
    "safe_casts",
    oracle="""
SELECT o_orderkey,
       TRY_CAST(split_part(o_orderpriority, '-', 1) AS INTEGER)  AS prio_num,
       TRY_CAST(o_orderpriority AS INTEGER)                      AS whole_cast,
       TRY_CAST(o_orderstatus AS DOUBLE)                         AS status_num,
       coalesce(TRY_CAST(split_part(o_orderpriority, '-', 1) AS INTEGER), -1)
                                                                 AS prio_or_default
FROM orders
""",
)
def safe_casts(spark, sf_dir):
    """Fault-tolerant casting (try_cast → NULL, never job failure) — how a
    100 TB ingest survives the odd malformed value without poisoning the
    whole partition, with an explicit default where the pipeline needs
    one. Casts are regexp-prefiltered (see _guarded_try_cast): per-row
    exception cost scales with anomaly count, not row count."""
    o = table(spark, sf_dir, "orders")
    prio = _guarded_try_cast(
        F.split_part("o_orderpriority", F.lit("-"), F.lit(1)), "int", _INT_RE
    )
    return o.select(
        "o_orderkey",
        prio.alias("prio_num"),
        _guarded_try_cast(F.col("o_orderpriority"), "int", _INT_RE).alias("whole_cast"),
        _guarded_try_cast(F.col("o_orderstatus"), "double", _NUM_RE).alias("status_num"),
        F.coalesce(prio, F.lit(-1)).alias("prio_or_default"),
    )


# --- behavioral analytics: funnel / retention / gap-fill -------------------

@query(
    "funnel_conversion",
    oracle="""
WITH stages AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'signup'   THEN epoch_us(ts) END) AS t_signup,
           min(CASE WHEN event_type = 'click'    THEN epoch_us(ts) END) AS t_click,
           min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
    FROM events GROUP BY user_id
)
SELECT
    count(*)                                                   AS n_users,
    CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                               AS n_signup,
    CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
             THEN 1 ELSE 0 END) AS BIGINT)                     AS n_signup_then_click,
    CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                   AND t_purchase > t_click
             THEN 1 ELSE 0 END) AS BIGINT)                     AS n_full_funnel
FROM stages
""",
)
def funnel_conversion(spark, sf_dir):
    """Ordered funnel (signup → click → purchase): per-user first-touch
    times via conditional MIN (one agg pass — never N self-joins for an
    N-stage funnel), then ordering checks. NULL comparisons are false in
    both engines, so missing stages drop out without special-casing."""
    ev = table(spark, sf_dir, "events")

    def first_touch(t):
        return F.min(F.when(F.col("event_type") == t, F.unix_micros("ts")))

    stages = ev.groupBy("user_id").agg(
        first_touch("signup").alias("t_signup"),
        first_touch("click").alias("t_click"),
        first_touch("purchase").alias("t_purchase"),
    )
    sign = F.col("t_signup").isNotNull()
    s_then_c = sign & (F.col("t_click") > F.col("t_signup"))
    full = s_then_c & (F.col("t_purchase") > F.col("t_click"))
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(sign.cast("int")).cast("long").alias("n_signup"),
        F.sum(s_then_c.cast("int")).cast("long").alias("n_signup_then_click"),
        F.sum(full.cast("int")).cast("long").alias("n_full_funnel"),
    )


@query(
    "retention_cohorts",
    oracle="""
WITH firsts AS (
    SELECT user_id, CAST(min(date_trunc('week', ts)) AS TIMESTAMP) AS cohort_week
    FROM events GROUP BY user_id
), activity AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week
    FROM events
)
SELECT cohort_week,
       CAST(date_diff('week', cohort_week, active_week) AS BIGINT) AS week_offset,
       count(*) AS n_active
FROM activity JOIN firsts USING (user_id)
GROUP BY cohort_week, week_offset
""",
)
def retention_cohorts(spark, sf_dir):
    """Weekly retention triangle: users bucketed by first-seen week, counted
    in each later active week. The cohort dim is one small agg broadcast
    back onto the distinct-activity frame — two shuffles on user_id total,
    both of (user, week) pairs, never raw events."""
    ev = table(spark, sf_dir, "events")
    wk = F.date_trunc("week", "ts")
    firsts = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    activity = ev.select("user_id", wk.alias("active_week")).distinct()
    joined = activity.join(firsts, "user_id")
    offset = F.floor(
        (F.unix_micros("active_week") - F.unix_micros("cohort_week"))
        / (7 * 24 * 3600 * 1_000_000)
    ).cast("long")
    return joined.groupBy(
        "cohort_week", offset.alias("week_offset")
    ).agg(F.count(F.lit(1)).alias("n_active"))


@query(
    "gap_fill_forward",
    oracle="""
WITH bounds AS (
    SELECT user_id,
           CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS t0,
           CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS t1
    FROM events GROUP BY user_id
), grid AS (
    SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour_ts
    FROM bounds
), hourly AS (
    SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
           round(1e-9 + sum(value), 2) AS v
    FROM events GROUP BY 1, 2
)
SELECT g.user_id AS user_id, g.hour_ts AS hour_ts,
       coalesce(h.v,
                last_value(h.v IGNORE NULLS)
                    OVER (PARTITION BY g.user_id ORDER BY g.hour_ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                0.0) AS v_filled,
       h.v IS NULL AS was_gap
FROM grid g LEFT JOIN hourly h
  ON g.user_id = h.user_id AND g.hour_ts = h.hour_ts
""",
)
def gap_fill_forward(spark, sf_dir):
    """Time-series regularization: per-user hourly grid (sequence + explode
    — generated, not stored), left join of actual hourly sums, forward-fill
    of gaps via last-non-null window. The grid explode is linear in
    (users × hours); the fill is one shuffle on user_id."""
    ev = table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", "ts")
    bounds = ev.groupBy("user_id").agg(
        F.min(hour).alias("t0"), F.max(hour).alias("t1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts"),
    )
    hourly = ev.groupBy("user_id", hour.alias("hour_ts")).agg(
        rnd(F.sum("value"), 2).alias("v")
    )
    joined = grid.join(hourly, ["user_id", "hour_ts"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = F.coalesce(
        F.col("v"), F.last("v", ignorenulls=True).over(w), F.lit(0.0)
    )
    return joined.select(
        "user_id",
        "hour_ts",
        filled.alias("v_filled"),
        F.col("v").isNull().alias("was_gap"),
    )


# --- UDTF / UDAF surface (completing the A20 triad) ------------------------

@query(
    "doc_chunks_udtf",
    oracle="""
WITH chunks AS (
    SELECT doc_id,
           unnest(range(0, CAST(ceil(length(text) / 200.0) AS BIGINT))) AS chunk_idx,
           length(text) AS n
    FROM documents
)
SELECT doc_id,
       CAST(chunk_idx AS INTEGER)                                   AS chunk_idx,
       CAST(least(200, n - chunk_idx * 200) AS INTEGER)             AS chunk_len,
       md5(substr((SELECT text FROM documents d2 WHERE d2.doc_id = chunks.doc_id),
                  CAST(chunk_idx * 200 + 1 AS BIGINT), 200))        AS chunk_hash
FROM chunks
""",
)
def doc_chunks_udtf(spark, sf_dir):
    """Document chunking through a Python UDTF (table function: one input
    row → N output rows) joined laterally — the generator face of A20.
    Chunk content is verified by hash against the oracle's substring math.
    UDTFs are row-at-a-time Python (the slow path): real pipelines chunk
    with built-in substring/sequence exactly like the oracle — this query
    exists to verify the UDTF escape hatch end-to-end."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="chunk_idx int, chunk string")
    class ChunkDoc:
        def eval(self, text: str, size: int):
            for i in range(0, max(len(text), 1), size):
                yield i // size, text[i : i + size]

    spark.udtf.register("chunk_doc", ChunkDoc)
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id,
               c.chunk_idx,
               length(c.chunk)  AS chunk_len,
               md5(c.chunk)     AS chunk_hash
        FROM documents d, LATERAL chunk_doc(d.text, 200) c
        """
    )


@query(
    "ngram_cols_udtf",
    oracle=rf"""
WITH wbase AS (
    SELECT doc_id,
           {words_sql()} AS words
    FROM documents
)
SELECT doc_id, CAST(i - 1 AS INT) AS pos,
       words[i] AS w1, words[i + 1] AS w2, words[i + 2] AS w3
FROM wbase, LATERAL unnest(range(1, greatest(len(words) - 1, 1))) t(i)
WHERE len(words) >= 3
""",
)
def ngram_cols_udtf(spark, sf_dir):
    """POLYMORPHIC Python UDTF — the output schema is decided at analysis
    time by the UDTF's static ``analyze()`` from a constant argument
    (n=3 ⇒ columns pos, w1..w3), the Spark 4 dynamic-schema face of the
    table-function surface (doc_chunks_udtf covers the static-schema
    face). The eval reproduces the reference tokenizer rule (whitespace
    split, lower, strip non-letters, drop empties — main.cc:33-42,73-75)
    row-at-a-time in Python, and the oracle reproduces it in SQL, so the
    hash check pins the Python/JVM/DuckDB tokenizer triple-parity. The
    split uses the explicit ASCII class [ \\t\\n\\x0b\\x0c\\r] — Python's
    \\s is Unicode-aware (would split on U+00A0 etc.) while Java's and
    RE2's \\s is ASCII-only; the explicit class makes all three engines
    tokenize identical byte ranges on ANY corpus, not just ASCII ones
    (the same class of fix as the multimodal byte-slice oracles).

    Row-at-a-time Python is the documented slow path (test_plan_shape's
    BatchEvalPython guard carries an annotated exception for exactly the
    two UDTF demos): real pipelines derive n-gram columns from
    words_array + slice, JVM-side. This query exists to verify the
    analyze() contract end to end."""
    import re

    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    split_ws = re.compile(r"[ \t\n\x0b\x0c\r]+")  # Java/RE2 \s, NOT Python's
    strip_nonletter = re.compile(r"[^a-z]")

    @udtf
    class NGramCols:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            if not n.isConstantExpression or n.value is None:
                raise ValueError("ngram_cols(text, n): n must be a non-null literal")
            fields = [StructField("pos", IntegerType())] + [
                StructField(f"w{i + 1}", StringType()) for i in range(int(n.value))
            ]
            return AnalyzeResult(StructType(fields))

        def eval(self, text, n):
            toks = split_ws.split(text) if text else []
            ws = [
                w
                for w in (strip_nonletter.sub("", t.lower()) for t in toks)
                if w
            ]
            for i in range(len(ws) - n + 1):
                yield (i, *ws[i : i + n])

    spark.udtf.register("ngram_cols", NGramCols)
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        "SELECT d.doc_id, g.* FROM documents d, LATERAL ngram_cols(d.text, 3) g"
    )


@query(
    "geo_mean_udaf",
    oracle="""
SELECT event_type,
       round(1e-9 + exp(avg(ln(value + 1.0))), 4) AS geo_mean
FROM events GROUP BY event_type
""",
)
def geo_mean_udaf(spark, sf_dir):
    """Custom aggregate (geometric mean) as an Arrow-batched GROUPED_AGG
    pandas UDF — the UDAF face of A20. Arithmetic mirrors the oracle
    (mean of logs in double); Arrow moves each group as one vector, never
    row-at-a-time."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType passed explicitly: this module runs under
    # `from __future__ import annotations`, which stringifies signatures —
    # pandas_udf can't infer GROUPED_AGG from 'pd.Series' -> 'float' text.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geo_mean(v):
        return float(np.exp(np.log(v.to_numpy() + 1.0).mean()))

    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        rnd(geo_mean("value"), 4).alias("geo_mean")
    )


# --- deterministic weighted sampling / storage layout ----------------------


@query(
    "weighted_sample",
    oracle=f"""
SELECT doc_id, source, n_chars, priority
FROM (
    SELECT doc_id, source, n_chars,
           ({sql_md5_int32("'wsample:' || CAST(doc_id AS VARCHAR)")} * 1000000)
               // greatest(n_chars, 1) AS priority
    FROM documents
)
ORDER BY priority, doc_id
LIMIT 100
""",
)
def weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling (token-budget style: longer docs
    proportionally likelier): priority = hash(doc) * SCALE div weight, keep
    the k smallest. The integer-division priority is the portable cousin of
    A-Res reservoir keys (u^(1/w)) — same monotone favor-the-heavy behavior
    with NO floating point, so Spark and DuckDB agree bit-for-bit and reruns
    on any cluster size pick the SAME docs (idempotent pipelines).

    Scale: one narrow projection + TakeOrderedAndProject — per-partition
    top-k on executors, only k rows reach the driver-side merge; no global
    sort, no RNG state."""
    docs = table(spark, sf_dir, "documents")
    h = md5_int32(F.concat(F.lit("wsample:"), F.col("doc_id").cast("string")))
    return (
        docs.withColumn("_h", h)
        # `div` (true integer division) has no Column-API spelling; floor()
        # of a double quotient is NOT equivalent above 2^53
        .selectExpr(
            "doc_id",
            "source",
            "n_chars",
            "_h * 1000000 div greatest(n_chars, 1) AS priority",
        )
        .orderBy("priority", "doc_id")
        .limit(100)
    )


def _morton16_sql(x: str, y: str, intdiv: str) -> str:
    """Portable 16+16-bit Morton (Z-order) interleave as pure integer
    arithmetic — ``intdiv`` is the engine's integer-division operator
    spelling ('div' for Spark, '//' for DuckDB); everything else is common
    SQL, so both engines compute identical keys."""
    terms = []
    for i in range(16):
        terms.append(f"((({x}) {intdiv} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({y}) {intdiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_ZX = "o_custkey % 65536"
_ZY_SPARK = "datediff(cast(o_orderdate as date), date'1970-01-01') % 65536"
_ZY_DUCK = "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 65536"


@query(
    "zorder_layout",
    oracle=f"""
WITH keyed AS (
    SELECT CAST({_morton16_sql(_ZX, _ZY_DUCK, "//")} AS BIGINT) AS zkey
    FROM orders
), lim AS (SELECT max(zkey) AS zmax FROM keyed)
SELECT CAST(zkey * 64 // (zmax + 1) AS BIGINT) AS bucket,
       count(*) AS n_rows,
       min(zkey) AS zmin,
       max(zkey) AS zmax_b
FROM keyed CROSS JOIN lim
GROUP BY 1
""",
)
def zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering key over (customer, order-day) + the
    equi-width bucket histogram a range-partitioned rewrite would produce.

    Why at 100 TB: sorting files by a single column gives min/max skipping
    on that column only; interleaving the bits of two dimensions gives BOTH
    predicates row-group skipping from one layout (the Delta/Iceberg OPTIMIZE
    ZORDER trick). The production write is
    ``repartitionByRange(zkey).sortWithinPartitions(zkey)`` — here the
    bucket stats themselves are the (oracle-checkable) output, with the max
    key as a 1-row broadcast, never a global sort."""
    o = table(spark, sf_dir, "orders")
    keyed = o.selectExpr(
        f"cast({_morton16_sql(_ZX, _ZY_SPARK, 'div')} as bigint) AS zkey"
    )
    lim = keyed.agg(F.max("zkey").alias("zmax"))
    return (
        keyed.join(F.broadcast(lim))
        .selectExpr("zkey * 64 div (zmax + 1) AS bucket", "zkey")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("zkey").alias("zmin"),
            F.max("zkey").alias("zmax_b"),
        )
    )


@query(
    "cogroup_reconcile",
    oracle="""
WITH oagg AS (
    SELECT o_orderkey, max(o_totalprice) AS o_total
    FROM orders WHERE o_orderkey % 200 = 7 GROUP BY o_orderkey
), lagg AS (
    SELECT l_orderkey, count(*) AS n_lines,
           sum(l_extendedprice * (1 - l_discount)) AS rev
    FROM lineitem WHERE l_orderkey % 200 = 7 GROUP BY l_orderkey
)
SELECT coalesce(o_orderkey, l_orderkey)          AS order_key,
       round(1e-9 + o_total, 2)                  AS o_total,
       coalesce(n_lines, 0)                      AS n_lines,
       round(1e-9 + coalesce(rev, 0.0), 2)       AS line_revenue,
       round(1e-9 + o_total - coalesce(rev, 0.0), 2) AS price_gap
FROM oagg FULL JOIN lagg ON o_orderkey = l_orderkey
""",
)
def cogroup_reconcile(spark, sf_dir):
    """Order-header vs line-detail reconciliation through cogrouped
    ``applyInPandas`` — the two-sided face of the reference's pluggable
    reduce fn (A20): both tables shuffle once on the order key, and each
    key's (orders-rows, lineitem-rows) pair lands in Python as two pandas
    frames. Keys present on only one side arrive with an empty peer frame
    (FULL JOIN semantics). The arithmetic is deliberately SQL-expressible
    so the cogroup plumbing itself is what the oracle hash certifies.

    Scale: identical shuffle shape to a full outer join + two-sided agg —
    one exchange per side on the key, Arrow-batched transfer, no
    driver-side data. BUT the per-key Python dispatch is real (~2-4 ms/key
    measured even for a trivial merge): cogroup costs scale with KEY COUNT, not
    row count, so both sides are cut to a deterministic key slice here —
    and in production, cogroup is reserved for merges that are genuinely
    imperative (sequence alignment, per-key model scoring) over bounded
    key sets; anything SQL-expressible belongs in the join/agg form."""
    import pandas as pd

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 200 == 7)
        .select("o_orderkey", "o_totalprice")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 200 == 7)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )

    def _merge(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        o_total = float(left["o_totalprice"].max()) if len(left) else None
        rev = (
            float((right["l_extendedprice"] * (1.0 - right["l_discount"])).sum())
            if len(right)
            else 0.0
        )
        return pd.DataFrame(
            {
                "order_key": [key[0]],
                "o_total": [round(o_total + 1e-9, 2) if o_total is not None else None],
                "n_lines": [len(right)],
                "line_revenue": [round(rev + 1e-9, 2)],
                "price_gap": [
                    round(o_total - rev + 1e-9, 2) if o_total is not None else None
                ],
            }
        )

    return (
        o.groupBy("o_orderkey")
        .cogroup(li.groupBy("l_orderkey"))
        .applyInPandas(
            _merge,
            "order_key bigint, o_total double, n_lines bigint, "
            "line_revenue double, price_gap double",
        )
    )


@query(
    "merge_apply_cdc",
    oracle=f"""
WITH b AS (
    SELECT c_custkey, c_acctbal,
           {sql_md5_int32("'cdc:' || CAST(c_custkey AS VARCHAR)")} % 10 AS bk
    FROM customer
), final AS (
    SELECT c_custkey, c_acctbal FROM b WHERE bk NOT IN (0, 1)
    UNION ALL
    SELECT c_custkey, c_acctbal + 100.0 FROM b WHERE bk = 1
    UNION ALL
    SELECT c_custkey + 1000000, 0.0 FROM b WHERE bk = 2
)
SELECT c_custkey, round(1e-9 + c_acctbal, 2) AS acctbal FROM final
""",
)
def merge_apply_cdc_customers(spark, sf_dir):
    """Full CDC apply (inserts + updates + DELETES) through
    ``operators.merge.merge_apply_cdc`` — completes the batch CDC story
    next to merge_upsert_customers (upsert-only) and scd2_history
    (versioned). The change feed is derived deterministically from the
    target by md5 bucket: bucket 0 deletes, bucket 1 updates (+100
    balance), bucket 2 inserts a fresh key. One broadcast anti join
    removes deleted AND replaced keys, then the non-delete changes union
    back — deletes add zero extra passes."""
    from mapreduce_model_spark.operators.merge import merge_apply_cdc

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    bk = md5_int32(F.concat(F.lit("cdc:"), F.col("c_custkey").cast("string"))) % 10
    b = c.withColumn("bk", bk)
    dels = b.filter(F.col("bk") == 0).select("c_custkey", "c_acctbal").withColumn(
        "op", F.lit("D")
    )
    upds = b.filter(F.col("bk") == 1).select(
        "c_custkey", (F.col("c_acctbal") + 100.0).alias("c_acctbal")
    ).withColumn("op", F.lit("U"))
    ins = b.filter(F.col("bk") == 2).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit(0.0).alias("c_acctbal"),
    ).withColumn("op", F.lit("I"))
    changes = dels.unionByName(upds).unionByName(ins)
    final = merge_apply_cdc(c, changes, "c_custkey")
    return final.select("c_custkey", rnd(F.col("c_acctbal"), 2).alias("acctbal"))


@query(
    "event_transitions",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
), pairs AS (
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
), tot AS (
    SELECT prev_type, sum(n) AS t FROM pairs GROUP BY prev_type
)
SELECT p.prev_type, p.next_type, p.n,
       round(1e-9 + CAST(p.n AS DOUBLE) / t, 6) AS prob
FROM pairs p JOIN tot USING (prev_type)
""",
)
def event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event sequences
    (the session-modeling / next-event-prediction feature table). One
    exchange on user_id for the lag window (ties broken by event_id — a
    total order, or the transition pairs themselves would be
    nondeterministic), then a tiny (|event types|²) aggregate; row
    probabilities join the per-prev totals back as a broadcast — the
    transition matrix is always broadcastable even when the event log is
    100 TB."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    pairs = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pairs.groupBy(F.col("prev_type").alias("t_prev")).agg(
        F.sum("n").alias("t")
    )
    return (
        pairs.join(F.broadcast(tot), pairs.prev_type == tot.t_prev)
        .select(
            "prev_type",
            "next_type",
            "n",
            rnd(F.col("n").cast("double") / F.col("t"), 6).alias("prob"),
        )
    )


@query(
    "session_paths",
    oracle="""
WITH e AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
), flagged AS (
    SELECT *, CASE WHEN lag(us) OVER w IS NULL
                     OR us - lag(us) OVER w > 1800000000
                   THEN 1 ELSE 0 END AS new_s
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), sess AS (
    SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM flagged
), paths AS (
    SELECT user_id, sid,
           string_agg(event_type, '>' ORDER BY us, event_id) AS path
    FROM sess GROUP BY user_id, sid
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
""",
)
def session_paths(spark, sf_dir):
    """Top session event paths (clickstream path mining): sessionize by
    30-minute gaps (operators/windows.sessionize — the batch analogue of
    session_window, tie-broken by event_id for a total order), build each
    session's ordered event-type path, count identical paths, keep the
    top 20.

    Scale: the path assembly is a per-(user, session) sorted collect —
    bounded by session length, never by user history; path counting is an
    ordinary string-keyed aggregate and the top-20 is
    TakeOrderedAndProject. The same shape powers funnel discovery when the
    funnel stages aren't known in advance (compare funnel_conversion,
    which checks a KNOWN stage order)."""
    from mapreduce_model_spark.operators.windows import sessionize

    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    sess = sessionize(ev, key="user_id", gap_seconds=1800, tie_break="event_id")
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.unix_micros("ts").alias("us"), "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


@query(
    "ewma_user_daily",
    oracle="""
WITH g AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           list(value ORDER BY ts, event_id) AS vals
    FROM events GROUP BY 1, 2
)
SELECT user_id, day, CAST(len(vals) AS BIGINT) AS n_events,
       round(1e-9 + list_reduce(vals, (acc, x) -> 0.3 * x + 0.7 * acc), 4) AS ewma
FROM g
""",
)
def ewma_user_daily(spark, sf_dir):
    """Exponentially weighted moving average of each user's event values
    per calendar day (α=0.3) — the time-decayed smoothing primitive
    (trend/anomaly features) that windows can't express: EWMA is a
    RECURSIVE fold, not an algebraic aggregate, so it runs as a
    left-to-right ``aggregate`` over the day's time-ordered value list.

    Scale contract: the collected list is bounded by events/user/DAY (the
    calendar key is the bound — same contract as session_paths' per-session
    collect), never a whole-history collect. The fold is identical
    left-to-right double arithmetic in both engines (Spark ``aggregate``
    vs DuckDB ``list_reduce``), so values match bit-for-bit before the
    display rounding. Ties on ts are broken by event_id in BOTH collects —
    without that the fold order, and therefore the EWMA, is
    nondeterministic."""
    ev = table(spark, sf_dir, "events")
    g = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("xs")
    )
    vals = F.transform("xs", lambda s: s["value"])
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return g.select(
        "user_id",
        "day",
        F.size("xs").cast("long").alias("n_events"),
        rnd(ewma, 4).alias("ewma"),
    )


@query(
    "eval_coverage",
    oracle=_DECON_WBASE
    + f"""
, evx AS (
    SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS x
    FROM (SELECT doc_id, unnest({_SH5_SQL}) AS s
          FROM wbase WHERE source = '{_EVAL_SOURCE}' AND len(words) >= 5)
), trx AS (
    SELECT DISTINCT ('0x' || substr(md5(s), 1, 8))::BIGINT AS x
    FROM (SELECT unnest({_SH5_SQL}) AS s
          FROM wbase WHERE source <> '{_EVAL_SOURCE}' AND len(words) >= 5)
), m AS (
    SELECT x FROM trx WHERE x IN (SELECT x FROM evx)
)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT)    AS n_shingles,
       CAST(count(m.x) AS BIGINT)  AS n_hit,
       round(count(m.x)::DOUBLE / count(*) + 1e-9, 4) AS coverage
FROM evx e LEFT JOIN m ON e.x = m.x
GROUP BY e.doc_id
""",
)
def eval_coverage(spark, sf_dir):
    """Contamination report in the EVAL direction: per benchmark doc, what
    fraction of its distinct 5-grams already exists anywhere in the
    training corpus. decontaminate_ngram flags training docs to DROP; this
    is the companion audit that says whether the benchmark itself is
    compromised (coverage ~1.0 = the eval doc is effectively memorizable
    even after exact-match scrubbing).

    Scale: the training side — the 100 TB side — is touched by exactly one
    narrow shingle pass plus a semi join against the BROADCAST eval
    shingle-hash set; the matched-hash set that comes back is bounded by
    the eval corpus (small by definition), so the per-eval-doc scoring join
    is broadcast too. No shuffle anywhere scales with training size."""
    from mapreduce_model_spark.functions.partitioning import spread_for_fanout
    from mapreduce_model_spark.functions.text import shingles, words_array

    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "source", words_array("text").alias("words")
    )

    def sh5(df):
        return (
            df.filter(F.size("words") >= 5)
            .select(
                "doc_id",
                F.explode(F.array_distinct(shingles(F.col("words"), 5))).alias("s"),
            )
            .select("doc_id", md5_int32(F.col("s")).alias("x"))
        )

    evx = sh5(docs.filter(F.col("source") == _EVAL_SOURCE)).distinct()
    ev_set = evx.select("x").distinct()
    trx = sh5(docs.filter(F.col("source") != _EVAL_SOURCE))
    matched = (
        trx.join(F.broadcast(ev_set), "x", "semi").select("x").distinct()
    )
    scored = evx.join(
        F.broadcast(matched.withColumn("hit", F.lit(1))), "x", "left"
    )
    n_hit = F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        n_hit.alias("n_hit"),
        rnd(n_hit / F.count(F.lit(1)), 4).alias("coverage"),
    )


# Temporal split geometry: integer-µs boundary arithmetic (identical in
# both engines; float span math would diverge in the last bit).
_SPLIT_TRAIN_PCT = 60
_SPLIT_EMBARGO_PCT = 10


@query(
    "time_embargo_split",
    oracle=f"""
WITH b AS (
    SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
), tagged AS (
    SELECT user_id,
           CASE
             WHEN epoch_us(ts) < lo + (hi - lo) * {_SPLIT_TRAIN_PCT} // 100
               THEN 'train'
             WHEN epoch_us(ts) < lo + (hi - lo) * {_SPLIT_TRAIN_PCT + _SPLIT_EMBARGO_PCT} // 100
               THEN 'embargo'
             ELSE 'test'
           END AS split
    FROM events, b
), shared AS (
    SELECT count(DISTINCT t.user_id) AS n_shared
    FROM (SELECT DISTINCT user_id FROM tagged WHERE split = 'train') t
    JOIN (SELECT DISTINCT user_id FROM tagged WHERE split = 'test') s
      ON t.user_id = s.user_id
)
SELECT split,
       CAST(count(*) AS BIGINT)                 AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT)  AS n_users,
       CAST((SELECT n_shared FROM shared) AS BIGINT) AS n_train_test_shared_users
FROM tagged
GROUP BY split
""",
)
def time_embargo_split(spark, sf_dir):
    """Leakage-safe TEMPORAL train/test split with an embargo gap — the
    time-series discipline (finance/forecasting, and LLM data with a
    knowledge-cutoff) where random splits leak the future: train gets the
    first 60% of the time span, the next 10% is discarded as embargo (so
    windowed features computed at train time cannot straddle the
    boundary), test gets the rest. Boundaries are integer-µs arithmetic so
    both engines place every event identically. The report carries the
    cross-split audit inline: n_train_test_shared_users is the entity
    overlap a stricter BY-USER split would also have to address
    (complements split_leakage_audit, which audits near-dup DOCS).

    Scale: TWO fact scans — the 2-value min/max aggregate, then the tag
    pass (a narrow CASE against the broadcast boundaries) feeding a single
    (split, user) aggregate. That checkpointed, |users|-bounded frame serves
    both the split summary and the shared-user audit, so no branch ever
    re-derives the fact-table plan."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    b = ev.agg(
        F.min(us).alias("lo"), F.max(us).alias("hi")
    )
    t_pct, e_pct = _SPLIT_TRAIN_PCT, _SPLIT_TRAIN_PCT + _SPLIT_EMBARGO_PCT
    # `div` (integral), NOT `/`: Spark's `/` on longs returns DOUBLE, which
    # would floor differently from DuckDB's `//` on boundary-adjacent events
    b1 = F.expr(f"lo + ((hi - lo) * {t_pct}) div 100")
    b2 = F.expr(f"lo + ((hi - lo) * {e_pct}) div 100")
    tagged = (
        ev.crossJoin(F.broadcast(b))
        .withColumn(
            "split",
            F.when(us < b1, "train").when(us < b2, "embargo").otherwise("test"),
        )
        .select("user_id", "split")
    )
    # ONE (split, user) aggregate off the tag pass; the split summary AND
    # the shared-user audit both derive from it, so the fact table is
    # scanned exactly twice (boundary stats + tag), never re-derived per
    # branch. per_user is bounded by 3x|users| — checkpoint, not re-plan.
    per_user = (
        tagged.groupBy("split", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    shared = (
        per_user.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias("in_tr"),
            F.max(F.when(F.col("split") == "test", 1).otherwise(0)).alias("in_te"),
        )
        .where((F.col("in_tr") == 1) & (F.col("in_te") == 1))
        .agg(F.count(F.lit(1)).alias("n_train_test_shared_users"))
    )
    return (
        per_user.groupBy("split")
        .agg(
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_users"),
        )
        .crossJoin(F.broadcast(shared))
        .select(
            "split",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_users").cast("long").alias("n_users"),
            F.col("n_train_test_shared_users").cast("long"),
        )
    )


@query(
    "ab_test_welch",
    oracle="""
WITH tagged AS (
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) % 2 AS variant,
           value
    FROM events
), s AS (
    SELECT event_type, variant,
           count(*) AS n, avg(value) AS mu, var_samp(value) AS v
    FROM tagged GROUP BY 1, 2
)
SELECT a.event_type,
       CAST(a.n AS BIGINT)  AS n_a,
       CAST(b.n AS BIGINT)  AS n_b,
       round(a.mu - b.mu + 1e-9, 4) AS mean_diff,
       round((a.mu - b.mu) / sqrt(a.v / a.n + b.v / b.n) + 1e-9, 4) AS t_stat,
       abs(round((a.mu - b.mu) / sqrt(a.v / a.n + b.v / b.n) + 1e-9, 4)) > 1.96
           AS significant
FROM s a JOIN s b ON a.event_type = b.event_type
WHERE a.variant = 0 AND b.variant = 1
""",
)
def ab_test_welch(spark, sf_dir):
    """Experiment readout: Welch's t-statistic for the metric between two
    deterministic variants (props.k parity — the hash-bucket assignment an
    experimentation platform uses), per event_type. The whole test reduces
    to SUFFICIENT STATISTICS (n, mean, sample variance per cell): one
    map-side-combining aggregate over the fact table, then a |types|-sized
    self-join computes the statistic — the canonical pattern for ANY
    moment-based test at 100 TB (no row ever leaves its scan partition
    un-aggregated).

    Welch, not pooled-variance Student: variant traffic splits are rarely
    equal-variance in practice."""
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        (F.get_json_object("props", "$.k").cast("long") % 2).alias("variant"),
        "value",
    )
    s = ev.groupBy("event_type", "variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mu"),
        F.var_samp("value").alias("v"),
    )
    a = s.where(F.col("variant") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("mu").alias("mu_a"),
        F.col("v").alias("v_a"),
    )
    b = s.where(F.col("variant") == 1).select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("mu").alias("mu_b"),
        F.col("v").alias("v_b"),
    )
    j = a.join(b, "event_type")
    t = (F.col("mu_a") - F.col("mu_b")) / F.sqrt(
        F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    )
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        rnd(F.col("mu_a") - F.col("mu_b"), 4).alias("mean_diff"),
        rnd(t, 4).alias("t_stat"),
        # threshold on the ROUNDED statistic: engines differ in low-order
        # bits of avg/var_samp, and a raw-float comparison at the boundary
        # would flip this hash-checked boolean between engines
        (F.abs(rnd(t, 4)) > 1.96).alias("significant"),
    )


@query(
    "class_rebalance",
    oracle="""
WITH counts AS (
    SELECT lang, count(*) AS n FROM documents GROUP BY lang
), m AS (SELECT min(n) AS target FROM counts),
ranked AS (
    SELECT doc_id, lang,
           row_number() OVER (
               PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS rk
    FROM documents
)
SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
FROM ranked CROSS JOIN m
WHERE rk <= target
""",
)
def class_rebalance(spark, sf_dir):
    """Deterministic class balancing: downsample every language to the
    minority class's size by keeping each class's md5-lowest doc_ids — the
    label-balance step before fine-tune/classifier training. md5 ranking
    makes the sample reproducible across engines and runs (no RNG), the
    same discipline as train_val_split / weighted_sample.

    Scale: one class-keyed exchange for the per-class ranking window plus
    a 1-row broadcast of the target. A mega-class lands on one partition
    here; the skew-safe variant ranks per-partition first and takes
    partial top-m like weighted_sample (operators-level pattern), swapped
    in when one label dominates a 100 TB corpus."""
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    m = counts.agg(F.min("n").alias("target"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select(
        "doc_id", "lang", F.row_number().over(w).alias("rk")
    )
    return (
        ranked.crossJoin(F.broadcast(m))
        .where(F.col("rk") <= F.col("target"))
        .select("doc_id", "lang", F.col("rk").cast("long").alias("rk"))
    )


@query(
    "dataset_card",
    oracle=rf"""
WITH wbase AS (
    SELECT doc_id, lang, source, n_chars,
           len({words_sql()}) AS n_words
    FROM documents
)
SELECT CAST(count(*) AS BIGINT)                    AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT)        AS n_langs,
       CAST(count(DISTINCT source) AS BIGINT)      AS n_sources,
       CAST(sum(n_words) AS BIGINT)                AS total_words,
       CAST(min(n_words) AS BIGINT)                AS min_words,
       CAST(max(n_words) AS BIGINT)                AS max_words,
       round(avg(n_words) + 1e-9, 4)                      AS avg_words,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY n_words) + 1e-9, 4)
                                                   AS median_words,
       round(avg(n_chars) + 1e-9, 4)                      AS avg_chars,
       array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs
FROM wbase
""",
)
def dataset_card(spark, sf_dir):
    """Dataset datasheet in one pass: the header block of a dataset card
    (doc/source/language counts, token totals, length distribution) that
    every corpus release ships. ALL columns are algebraic or
    single-quantile aggregates over one scan — the per-doc word count is
    computed narrowly in the scan stage, so the whole card costs one
    map-side-combining aggregate however large the corpus; the language
    roster (bounded by |langs|) rides the same pass as a collect_set.

    median via exact percentile is the local formulation; the documented
    100 TB swap is approx_percentile (same discipline as robust_outliers)."""
    from mapreduce_model_spark.functions.text import words_array

    docs = table(spark, sf_dir, "documents").select(
        "lang", "source", "n_chars", F.size(words_array("text")).alias("n_words")
    )
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.min("n_words").cast("long").alias("min_words"),
        F.max("n_words").cast("long").alias("max_words"),
        rnd(F.avg("n_words"), 4).alias("avg_words"),
        # percentile() interpolates (= SQL percentile_cont) — the oracle
        # must NOT use percentile_disc, which floors to the lower middle
        rnd(F.expr("percentile(n_words, 0.5)"), 4).alias("median_words"),
        rnd(F.avg("n_chars"), 4).alias("avg_chars"),
        F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
    )


@query(
    "dau_wau_stickiness",
    oracle="""
WITH daily AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), days AS (SELECT DISTINCT day FROM daily),
dau AS (SELECT day, count(*) AS dau FROM daily GROUP BY day),
contrib AS (
    SELECT CAST(unnest(range(0, 7)) AS BIGINT) AS off, day, user_id FROM daily
), wau AS (
    SELECT c.day + CAST(c.off AS INTEGER) AS day,
           count(DISTINCT c.user_id) AS wau
    FROM contrib c
    WHERE c.day + CAST(c.off AS INTEGER) IN (SELECT day FROM days)
    GROUP BY 1
)
SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
       round(d.dau * 1.0 / w.wau + 1e-9, 4) AS stickiness
FROM dau d JOIN wau w ON d.day = w.day
""",
)
def dau_wau_stickiness(spark, sf_dir):
    """Engagement triad: daily active users, 7-day-window active users,
    and DAU/WAU stickiness per observed day — the overlapping-window
    distinct-count workload every product-analytics stack runs.

    Scale: the naive WAU formulation is a range join of every day against
    the event log; instead each (user, day) row CONTRIBUTES itself to the
    7 forward window-end days (narrow ×7 explode of the deduped user-day
    frame — already |users|×|days| bounded, far smaller than events), then
    one distinct-count aggregate keyed on the window-end day. Off-grid
    window ends are dropped by a broadcast semi join against the observed
    -day grid. The event log itself is touched once — the deduped
    user-day frame is checkpointed and every branch (day grid, DAU, window
    contributions) reads the materialized frame, not the fact table."""
    ev = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    # checkpoint the deduped user-day frame: days / dau / contrib all derive
    # from it, so the event log is scanned exactly once (the claim below);
    # without it, each branch would re-run the fact dedup
    daily = ev.distinct().localCheckpoint(eager=False)
    days = daily.select("day").distinct()
    dau = daily.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = daily.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias(
            "day"
        ),
        "user_id",
    )
    wau = (
        contrib.join(F.broadcast(days), "day", "semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        F.col("dau").cast("long").alias("dau"),
        F.col("wau").cast("long").alias("wau"),
        rnd(F.col("dau") * 1.0 / F.col("wau"), 4).alias("stickiness"),
    )


_K_ANON = 5


@query(
    "k_anonymity_audit",
    oracle=f"""
WITH q AS (
    SELECT lang, source, CAST(n_chars // 32 AS BIGINT) AS len_bucket,
           count(*) AS group_size
    FROM documents GROUP BY 1, 2, 3
)
SELECT lang, source, len_bucket,
       CAST(group_size AS BIGINT) AS group_size,
       group_size < {_K_ANON} AS risky
FROM q
""",
)
def k_anonymity_audit(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier tuple (lang, source,
    length bucket): any equivalence class smaller than k=5 is a
    re-identification risk — the privacy pre-flight a dataset release
    runs before publishing 'anonymized' metadata (small classes must be
    suppressed or generalized). Reports every class with its size and
    risk flag so the release pipeline can filter on `risky`.

    Scale: one map-side-combining aggregate on the quasi-identifier key —
    the audit costs exactly one shuffle of (QI key, partial count),
    whatever the corpus size. The integer length bucket (floor div 32) is
    the generalization step itself: auditing raw n_chars would make
    nearly every row its own class."""
    docs = table(spark, sf_dir, "documents")
    q = docs.groupBy(
        "lang",
        "source",
        F.expr("n_chars div 32").alias("len_bucket"),
    ).agg(F.count(F.lit(1)).alias("group_size"))
    return q.select(
        "lang",
        "source",
        "len_bucket",
        F.col("group_size").cast("long").alias("group_size"),
        (F.col("group_size") < _K_ANON).alias("risky"),
    )


def _rfm_per_user(spark, sf_dir):
    """The |users|-sized RFM frame both rfm queries score: one fact scan,
    map-side combined; the corpus max-ts is a broadcast 1-row frame."""
    ev = table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("tmax"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.datediff(F.max("tmax"), F.max("ts")).alias("recency_days"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "frequency"
            ),
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
                F.lit(0.0),
            ).alias("monetary"),
        )
    )


def _ntile_from_rank(rank, n: int, k: int):
    """EXACT ``ntile(k)`` from a 1-based dense global rank over ``n``
    distinct rows, as a narrow column expression. SQL ntile hands the
    ``n % k`` extra rows to the EARLIEST buckets (first ``rem`` buckets
    get ``q+1`` rows, the rest ``q``), so the naive ``ceil(k*rank/n)``
    is WRONG whenever ``n % k != 0`` (n=7,k=5: rank 2 is bucket 1 under
    ntile but ceil(10/7)=2). Division is kept exact: subtract the
    modulus first so the double quotient is an integer (< 2^53) before
    the cast — no floor-of-almost-integer hazard."""
    q, rem = divmod(n, k)
    if q == 0:  # fewer rows than buckets: ntile(k) degenerates to rank
        return rank.cast("int")
    cut = rem * (q + 1)
    r0 = rank - 1
    big = ((r0 - (r0 % F.lit(q + 1))) / F.lit(q + 1)).cast("int") + 1
    s0 = rank - cut - 1
    small = F.lit(rem) + ((s0 - (s0 % F.lit(q))) / F.lit(q)).cast("int") + 1
    return F.when(rank <= F.lit(cut), big).otherwise(small)


@query(
    "rfm_segments",
    oracle="""
WITH mx AS (SELECT max(ts) AS tmax FROM events),
per_user AS (
    SELECT user_id,
           date_diff('day', max(ts), (SELECT tmax FROM mx)) AS recency_days,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS frequency,
           coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0)
               AS monetary
    FROM events GROUP BY user_id
), scored AS (
    SELECT user_id,
           ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r,
           ntile(5) OVER (ORDER BY frequency, user_id)        AS f,
           ntile(5) OVER (ORDER BY monetary, user_id)         AS m,
           monetary
    FROM per_user
)
SELECT r || '-' || f || '-' || m AS segment,
       CAST(count(*) AS BIGINT)  AS n_users,
       round(avg(monetary) + 1e-9, 4)   AS avg_monetary
FROM scored GROUP BY 1
""",
)
def rfm_segments(spark, sf_dir):
    """RFM segmentation — the marketing-analytics workhorse: per-user
    Recency (days since last activity), Frequency (purchases), Monetary
    (purchase value), each quintile-scored, users bucketed into R-F-M
    segments. Higher score = better on every axis (most recent, most
    frequent, highest spend). Ties carry a user_id tie-break inside the
    ntile ordering so both engines assign identical quintiles.

    Scale: one fact scan builds the |users|-sized RFM frame (map-side
    combined, checkpointed across its four consumers). The three quintile
    scores are EXACT ntile(5) but with NO global window: each axis gets
    a global rank from :func:`operators.ids.global_ordered_ids` (range
    exchange + narrow Arrow numbering — no single-partition stage,
    r9-verdict ask), chained so no join-back is needed, and the rank is
    folded to a bucket by the exact ntile arithmetic in
    :func:`_ntile_from_rank` (hash-identical to the unchanged ntile
    oracle at every checked sf). ``rfm_segments_scaled`` remains the
    approx-boundary twin for when even three range exchanges over the
    user frame are unwanted. The output is the |segments|-bounded
    roll-up, not the per-user frame."""
    from mapreduce_model_spark.operators.ids import global_ordered_ids

    per_user = _rfm_per_user(spark, sf_dir).localCheckpoint(eager=False)
    n = per_user.count()
    # Partition count scaled to the frame: n is already known, so don't pay
    # 32 range-exchange + Arrow tasks per axis for a few thousand users
    # (measured 12 s at sf0.1 with the default; ~3 s scaled). At large N
    # this is the default shuffle parallelism again — the PLAN is
    # unchanged, only task count adapts (ids depend on order, not layout).
    try:
        # Non-numeric on some platforms (e.g. "auto" under Databricks AQE).
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        shuffle_parts = spark.sparkContext.defaultParallelism
    parts = max(1, min(shuffle_parts, (n + 4095) // 4096))
    # ORDER BY recency_days DESC, user_id ≡ ascending (-recency, user_id);
    # user_id is unique in the frame, so every key is total-order unique
    # (the global_ordered_ids contract).
    ranked = global_ordered_ids(
        per_user.withColumn("neg_recency", -F.col("recency_days")),
        ["neg_recency", "user_id"],
        "r_rank",
        num_partitions=parts,
    )
    ranked = global_ordered_ids(
        ranked, ["frequency", "user_id"], "f_rank", num_partitions=parts
    )
    ranked = global_ordered_ids(
        ranked, ["monetary", "user_id"], "m_rank", num_partitions=parts
    )
    scored = ranked.select(
        F.concat_ws(
            "-",
            _ntile_from_rank(F.col("r_rank"), n, 5),
            _ntile_from_rank(F.col("f_rank"), n, 5),
            _ntile_from_rank(F.col("m_rank"), n, 5),
        ).alias("segment"),
        "monetary",
    )
    return scored.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_users"),
        rnd(F.avg("monetary"), 4).alias("avg_monetary"),
    )


_RFM_QS = [0.2, 0.4, 0.6, 0.8]
_RFM_ACC = 10000


@query("rfm_segments_scaled")  # approx-quantile boundaries — rows-only by design
def rfm_segments_scaled(spark, sf_dir):
    """rfm_segments' 100 TB formulation — the scale twin the exact query's
    docstring promises. The exact form ranks every user through three
    GLOBAL ntile(5) windows: at billions of users each window funnels the
    whole frame through ONE partition, three times — the canonical scale
    anti-pattern. Here quintile BOUNDARIES come from one
    ``approx_percentile`` aggregate over the user frame (GK sketch,
    map-side mergeable — 3×4 doubles to the driver), re-enter as a
    broadcast 1-row frame, and scoring is fully narrow: score = 1 + #
    boundaries below the value (recency inverted: fewer days = better).
    No window, no total order, no single-partition exchange on the big
    side — pinned by test_plan_shape.

    Semantics vs the exact twin: boundary scoring puts ties in ONE bucket
    (quintiles are no longer exactly equal-sized where values tie), which
    is the standard production trade; hence rows-only, with an
    independent pandas recompute pin (tests/test_round6_ops.py) instead
    of a hash oracle."""
    # per_user feeds both the boundary aggregate and the scoring pass —
    # checkpoint the |users|-bounded frame so the fact scan runs once
    # (sharing a frame: registry.py docstring)
    per_user = _rfm_per_user(spark, sf_dir).localCheckpoint(eager=False)
    bounds = per_user.agg(
        F.percentile_approx("recency_days", _RFM_QS, _RFM_ACC).alias("rb"),
        F.percentile_approx("frequency", _RFM_QS, _RFM_ACC).alias("fb"),
        F.percentile_approx("monetary", _RFM_QS, _RFM_ACC).alias("mb"),
    )

    def asc_score(value_col, bounds_col):
        return F.lit(1) + F.aggregate(
            F.col(bounds_col),
            F.lit(0),
            lambda acc, b: acc + F.when(F.col(value_col) > b, 1).otherwise(0),
        )

    scored = per_user.crossJoin(F.broadcast(bounds)).select(
        F.concat_ws(
            "-",
            F.lit(6) - asc_score("recency_days", "rb"),
            asc_score("frequency", "fb"),
            asc_score("monetary", "mb"),
        ).alias("segment"),
        "monetary",
    )
    return scored.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_users"),
        rnd(F.avg("monetary"), 4).alias("avg_monetary"),
    )


@query("wau_hll_sliding")  # approximate sketch — rows-only by design
def wau_hll_sliding(spark, sf_dir):
    """Approximate 7-day WAU from per-day mergeable HLL sketches — the
    100 TB production form of dau_wau_stickiness: the fact table folds
    into ONE small sketch per day, and every sliding window is a UNION of
    7 sketches (HLL union is lossless over unions), so window evaluation
    never touches user-level data again. Re-windowing (14-day, monthly)
    reuses the same per-day sketches — the pre-aggregation exact distinct
    counts can't offer.

    Accuracy vs the exact query is pinned in tests (lgK=14 → ~1% typical
    error). Scale: one fact scan builds |days| sketches; the explode ×7 +
    union_agg runs on |days| rows however large the corpus."""
    ev = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    # checkpoint: the day grid and the contribution explode both consume
    # per_day — without it, column pruning gives each branch a different
    # partial-agg plan and the fact table aggregates twice
    per_day = (
        ev.groupBy("day").agg(F.hll_sketch_agg("user_id", 14).alias("sk")).localCheckpoint(eager=False)
    )
    days = per_day.select("day")
    contrib = per_day.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias(
            "day_end"
        ),
        "sk",
    )
    return (
        contrib.join(
            F.broadcast(days.withColumnRenamed("day", "day_end")), "day_end", "semi"
        )
        .groupBy("day_end")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("long")
            .alias("wau_approx")
        )
        .select(F.col("day_end").alias("day"), "wau_approx")
    )


@query(
    "skew_audit",
    oracle="""
WITH per_key AS (
    SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY user_id
), tot AS (
    SELECT sum(cnt)::DOUBLE AS total, avg(cnt) AS avg_cnt FROM per_key
), top AS (
    SELECT user_id, cnt FROM per_key ORDER BY cnt DESC, user_id LIMIT 20
)
SELECT user_id, cnt,
       round(100.0 * cnt / total + 1e-9, 4) AS share_pct,
       round(cnt / avg_cnt + 1e-9, 4) AS x_avg
FROM top CROSS JOIN tot
""",
)
def skew_audit(spark, sf_dir):
    """Hot-key audit for a shuffle key (events.user_id) — the diagnostic
    you run BEFORE a big join/groupBy to decide whether it needs salting
    (operators/skew.py) or AQE skew handling: the 20 heaviest keys with
    their share of all rows and their multiple of the mean key load.

    Scale: one map-side-combining aggregate over the fact scan builds the
    |keys| frame once (checkpointed — the totals and the top-k are two
    consumers); the top-k is TakeOrderedAndProject (no global sort, no
    window), and only the 1-row totals frame is broadcast back. Nothing
    driver-side beyond 20+1 rows, however large the fact table."""
    per_key = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tot = per_key.agg(
        F.sum("cnt").cast("double").alias("total"), F.avg("cnt").alias("avg_cnt")
    )
    top = per_key.orderBy(F.col("cnt").desc(), "user_id").limit(20)
    return top.crossJoin(F.broadcast(tot)).select(
        "user_id",
        "cnt",
        rnd(F.lit(100.0) * F.col("cnt") / F.col("total"), 4).alias("share_pct"),
        rnd(F.col("cnt") / F.col("avg_cnt"), 4).alias("x_avg"),
    )
