"""Text-analysis queries: stats, token counting, language-ID, quality
scoring, fingerprinting, TF-IDF (SURVEY.md §2 Table B + north-star ops).

All built-in expressions (no Python UDFs): at 100 TB the text hot path stays
inside whole-stage codegen. The DuckDB oracles tokenize with the twins in
``functions.dedup_sql`` (``tokens_sql``, ``words_sql``: trim → split on C
whitespace → lower → strip non-letters → drop empties) so both engines
compute over identical word multisets (reference semantics A3-A5).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreduce_model_spark.functions.dedup_sql import tokens_sql, words_sql
from mapreduce_model_spark.functions.partitioning import spread_for_fanout
from mapreduce_model_spark.functions.rounding import rnd
from mapreduce_model_spark.functions.text import (
    BPE_TOKEN_RE,
    C_SPACE,
    STOPWORDS,
    SYMBOL,
    md5_int32,
    shingles,
    tokens_array,
    words_array,
)
from mapreduce_model_spark.registry import query, table

# DuckDB twin of tokens_array / words_array.
_WBASE = f"""
WITH wbase AS (
    SELECT doc_id, text, lang,
           {tokens_sql()} AS toks,
           {words_sql()} AS words
    FROM documents
)
"""

_SQL_STOP = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


@query(
    "text_stats",
    oracle=_WBASE
    + f"""
SELECT doc_id,
       length(text)                         AS n_chars_calc,
       len(toks)                            AS n_tokens,
       len(words)                           AS n_words,
       CASE WHEN len(words) > 0 THEN
            round(1e-9 + CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
                  / len(words), 4) END      AS avg_word_len,
       CASE WHEN len(words) > 0 THEN
            round(1e-9 + CAST(len(list_filter(words, w -> w IN {_SQL_STOP})) AS DOUBLE)
                  / len(words), 4) END      AS stopword_ratio,
       round(1e-9 + CAST(length(text) - length(regexp_replace(text, '{SYMBOL}', '', 'g')) AS DOUBLE)
             / length(text), 4)             AS punct_ratio
FROM wbase
""",
)
def text_stats(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    words = words_array("text")
    nw = F.size(words)
    stop_hits = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    word_len_sum = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    punct = F.length("text") - F.length(
        F.regexp_replace("text", SYMBOL, "")
    )
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        F.size(tokens_array("text")).cast("long").alias("n_tokens"),
        nw.cast("long").alias("n_words"),
        F.when(nw > 0, rnd(word_len_sum.cast("double") / nw, 4)).alias("avg_word_len"),
        F.when(nw > 0, rnd(stop_hits.cast("double") / nw, 4)).alias("stopword_ratio"),
        rnd(punct.cast("double") / F.length("text"), 4).alias("punct_ratio"),
    )


@query(
    "token_count",
    oracle=rf"""
SELECT doc_id,
       len({tokens_sql()})                                  AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_TOKEN_RE}'))      AS n_bpe_tokens,
       length(text)                                         AS n_chars_calc
FROM documents
""",
)
def token_count(spark, sf_dir):
    """Whitespace + BPE-ish (letter-run | digit-run | symbol) token counts."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens_array("text")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
    )


_LANG_STOP = {
    "en": STOPWORDS,
    "es": "el la de que y en los se del las un por con no una su para es al lo como".split(),
    "fr": "le la de et les des en un une du que est pour qui dans ce il au sur ne".split(),
    "de": "der die und den von zu das mit sich des auf ist im nicht ein als auch es an".split(),
}


def _lang_case_sql() -> str:
    sets = {
        lang: "(" + ", ".join(f"'{w}'" for w in ws) + ")"
        for lang, ws in _LANG_STOP.items()
    }
    scores = ",\n       ".join(
        f"CASE WHEN len(words) > 0 THEN CAST(len(list_filter(words, w -> w IN {sets[lang]})) AS DOUBLE) / len(words) ELSE 0.0 END AS s_{lang}"
        for lang in _LANG_STOP
    )
    return f"""
, scored AS (
    SELECT doc_id, lang,
       {scores}
    FROM wbase
)
SELECT doc_id, lang,
       round(1e-9 + s_en, 4) AS score_en,
       round(1e-9 + s_es, 4) AS score_es,
       round(1e-9 + s_fr, 4) AS score_fr,
       round(1e-9 + s_de, 4) AS score_de,
       CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0.0 THEN 'und'
            WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
            WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
            WHEN s_fr >= s_de THEN 'fr'
            ELSE 'de' END AS predicted
FROM scored
"""


@query("lang_id", oracle=_WBASE + _lang_case_sql())
def lang_id(spark, sf_dir):
    """Stopword-ratio n-gram heuristic language ID (deterministic rule,
    argmax over per-language stopword hit ratios with fixed tie priority)."""
    docs = table(spark, sf_dir, "documents")
    words = words_array("text")
    nw = F.size(words)
    out = docs.select("doc_id", "lang", words.alias("words"))

    def _hit_counter(stop_list):
        # single-arg lambda per language (a default arg would change the
        # lambda's arity, which PySpark uses to build the HOF signature)
        return F.size(F.filter(F.col("words"), lambda w: w.isin(*stop_list)))

    for lang, ws in _LANG_STOP.items():
        hits = _hit_counter(ws)
        out = out.withColumn(
            f"s_{lang}",
            F.when(F.size("words") > 0, hits.cast("double") / F.size("words")).otherwise(
                F.lit(0.0)
            ),
        )
    s = {lang: F.col(f"s_{lang}") for lang in _LANG_STOP}
    predicted = (
        F.when(F.greatest(*s.values()) == 0.0, "und")
        .when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["de"]), "en")
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["de"]), "es")
        .when(s["fr"] >= s["de"], "fr")
        .otherwise("de")
    )
    return out.select(
        "doc_id",
        "lang",
        rnd(s["en"], 4).alias("score_en"),
        rnd(s["es"], 4).alias("score_es"),
        rnd(s["fr"], 4).alias("score_fr"),
        rnd(s["de"], 4).alias("score_de"),
        predicted.alias("predicted"),
    )


@query(
    "quality_score",
    oracle=_WBASE
    + f"""
SELECT doc_id,
       round(1e-9 +
         0.3 * least(CAST(len(words) AS DOUBLE) / 100, 1.0)
       + 0.3 * least(CASE WHEN len(words) > 0
                          THEN CAST(len(list_filter(words, w -> w IN {_SQL_STOP})) AS DOUBLE) / len(words)
                          ELSE 0.0 END * 5, 1.0)
       + 0.4 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text))
       , 4) AS quality
FROM wbase
""",
)
def quality_score(spark, sf_dir):
    """Heuristic doc quality: length + stopword density + alpha ratio
    (the classic Gopher/C4-style cheap filters, deterministic)."""
    docs = table(spark, sf_dir, "documents")
    words = words_array("text")
    nw = F.size(words)
    stop_ratio = F.when(
        nw > 0,
        F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).cast("double") / nw,
    ).otherwise(F.lit(0.0))
    alpha_ratio = (
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
        / F.length("text")
    )
    q = (
        0.3 * F.least(nw.cast("double") / 100, F.lit(1.0))
        + 0.3 * F.least(stop_ratio * 5, F.lit(1.0))
        + 0.4 * alpha_ratio
    )
    return docs.select("doc_id", rnd(q, 4).alias("quality"))


@query(
    "doc_fingerprint",
    oracle=_WBASE
    + r"""
, sh AS (
    SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, len(words) - 3),
                       i -> array_to_string(words[i:i+4], ' ')))) AS s
    FROM wbase
    WHERE len(words) >= 5
), shx AS (
    SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS x FROM sh
)
SELECT doc_id,
       min(x)                 AS fp_min,
       bit_xor(x)             AS fp_xor,
       count(*)               AS n_shingles
FROM shx GROUP BY doc_id
""",
)
def doc_fingerprint(spark, sf_dir):
    """Rolling 5-gram fingerprint: min-hash + xor-fold over md5-int32 shingle
    hashes — a compact content signature (winnowing's min-selection)."""
    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id")
    words = words_array("text")
    sh = (
        docs.select("doc_id", words.alias("words"))
        .filter(F.size("words") >= 5)
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingles(F.col("words"), 5))).alias("s"),
        )
        .select("doc_id", md5_int32(F.col("s")).alias("x"))
    )
    return sh.groupBy("doc_id").agg(
        F.min("x").alias("fp_min"),
        F.expr("bit_xor(x)").alias("fp_xor"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


@query(
    "tfidf_top5",
    oracle=_WBASE
    + r"""
, w AS (SELECT doc_id, unnest(words) AS word FROM wbase),
wc AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
tot AS (SELECT doc_id, sum(tf) AS tot FROM wc GROUP BY doc_id),
dfq AS (SELECT word, count(*) AS dfn FROM wc GROUP BY word),
nd AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT wc.doc_id, wc.word,
           (CAST(tf AS DOUBLE) / CAST(tot AS DOUBLE))
           * (ln(CAST(n_docs + 1 AS DOUBLE) / CAST(dfn + 1 AS DOUBLE)) + 1.0) AS tfidf
    FROM wc JOIN tot USING (doc_id) JOIN dfq USING (word) CROSS JOIN nd
)
SELECT doc_id, word, round(1e-9 + tfidf, 6) AS tfidf, rn
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
      FROM scored)
WHERE rn <= 5
""",
)
def tfidf_top5(spark, sf_dir):
    """Top-5 TF-IDF terms per document. df/idf from one extra small agg +
    broadcast joins; ranking on the raw double with word tie-break (identical
    arithmetic both engines → identical order)."""
    docs = table(spark, sf_dir, "documents")
    w = spread_for_fanout(docs, "doc_id").select(
        "doc_id", F.explode(words_array("text")).alias("word")
    )
    wc = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    tot = wc.groupBy("doc_id").agg(F.sum("tf").alias("tot"))
    dfq = wc.groupBy("word").agg(F.count(F.lit(1)).alias("dfn"))
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        wc.join(tot, "doc_id")
        .join(dfq, "word")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "tfidf",
            (F.col("tf").cast("double") / F.col("tot").cast("double"))
            * (
                F.log(
                    (F.col("n_docs") + 1).cast("double")
                    / (F.col("dfn") + 1).cast("double")
                )
                + 1.0
            ),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "word", rnd(F.col("tfidf"), 6).alias("tfidf"), F.col("rn").cast("long").alias("rn"))
    )


@query(
    "c4_filters",
    oracle=_WBASE
    + f"""
SELECT doc_id,
       len(words) < 50                                          AS too_short,
       NOT (text LIKE '%.' OR text LIKE '%!' OR text LIKE '%?' OR text LIKE '%"')
                                                                AS no_terminal_punct,
       contains(text, '{{') OR contains(text, '}}')             AS has_curly,
       CASE WHEN len(words) > 0 THEN
            CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
            / len(words) NOT BETWEEN 3.0 AND 10.0
       ELSE TRUE END                                            AS odd_word_len,
       CASE WHEN len(words) > 0 THEN
            CAST(len(list_filter(words, w -> w IN {_SQL_STOP})) AS DOUBLE)
            / len(words) < 0.01
       ELSE TRUE END                                            AS no_stopwords,
       len(words) >= 50
       AND (text LIKE '%.' OR text LIKE '%!' OR text LIKE '%?' OR text LIKE '%"')
       AND NOT (contains(text, '{{') OR contains(text, '}}'))
       AND CASE WHEN len(words) > 0 THEN
             CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
             / len(words) BETWEEN 3.0 AND 10.0 ELSE FALSE END
       AND CASE WHEN len(words) > 0 THEN
             CAST(len(list_filter(words, w -> w IN {_SQL_STOP})) AS DOUBLE)
             / len(words) >= 0.01 ELSE FALSE END                AS keep
FROM wbase
""",
)
def c4_filters(spark, sf_dir):
    """C4/Gopher-style quality gates as boolean flags + a combined keep
    decision — the standard pre-training corpus filter pass, one narrow
    projection (no shuffle, fully pushed into the scan stage)."""
    docs = table(spark, sf_dir, "documents")
    words = words_array("text")
    nw = F.size(words)
    mean_len = F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w)).cast(
        "double"
    ) / nw
    stop_ratio = (
        F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).cast("double") / nw
    )
    terminal = (
        F.col("text").endswith(".")
        | F.col("text").endswith("!")
        | F.col("text").endswith("?")
        | F.col("text").endswith('"')
    )
    curly = F.col("text").contains("{") | F.col("text").contains("}")
    too_short = nw < 50
    odd_len = F.when(nw > 0, ~mean_len.between(3.0, 10.0)).otherwise(F.lit(True))
    no_stop = F.when(nw > 0, stop_ratio < 0.01).otherwise(F.lit(True))
    keep = (
        (nw >= 50)
        & terminal
        & ~curly
        & F.when(nw > 0, mean_len.between(3.0, 10.0)).otherwise(F.lit(False))
        & F.when(nw > 0, stop_ratio >= 0.01).otherwise(F.lit(False))
    )
    return docs.select(
        "doc_id",
        too_short.alias("too_short"),
        (~terminal).alias("no_terminal_punct"),
        curly.alias("has_curly"),
        odd_len.alias("odd_word_len"),
        no_stop.alias("no_stopwords"),
        keep.alias("keep"),
    )


@query(
    "vocab_topk",
    oracle=_WBASE
    + """
, w AS (SELECT DISTINCT doc_id, unnest(words) AS word FROM wbase),
dfq AS (SELECT word, count(*) AS df FROM w GROUP BY word)
SELECT word, df, rn
FROM (SELECT *, row_number() OVER (ORDER BY df DESC, word) AS rn FROM dfq)
WHERE rn <= 100
""",
)
def vocab_topk(spark, sf_dir):
    """Corpus heavy hitters: top-100 words by document frequency. The
    groupBy count is map-side-combined; the global top-k is a tiny
    all-to-one sort of one row per distinct word ABOVE the partial top-k
    pruning Catalyst applies under the limit window (TakeOrderedAndProject
    at scale, not a full sort)."""
    docs = table(spark, sf_dir, "documents")
    w = spread_for_fanout(docs, "doc_id").select(
        "doc_id", F.explode(F.array_distinct(words_array("text"))).alias("word")
    )
    dfq = w.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # Prune to the top-100 FIRST (TakeOrderedAndProject: per-partition top-k
    # + driver merge — never a global sort), then rank the 100 survivors.
    # A bare row_number window over the full vocabulary would funnel every
    # distinct word of the corpus through one partition.
    top = dfq.orderBy(F.col("df").desc(), "word").limit(100)
    win = Window.orderBy(F.col("df").desc(), "word")
    return top.withColumn("rn", F.row_number().over(win)).select("word", "df", F.col("rn").cast("long").alias("rn"))


@query(
    "token_positions",
    oracle=_WBASE
    + """
SELECT doc_id,
       CAST(generate_subscripts(words, 1) - 1 AS BIGINT) AS pos,
       unnest(words) AS word
FROM wbase
WHERE len(words) > 0
""",
)
def token_positions(spark, sf_dir):
    """Ordinal explode (posexplode): token positions survive the generator
    — the building block for positional n-grams, span labeling, and
    context-window extraction. Narrow generator, no shuffle."""
    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id", F.posexplode(words_array("text")).alias("pos", "word")
    ).withColumn("pos", F.col("pos").cast("long"))


@query(
    "bpe_merge_candidates",
    oracle=_WBASE
    + r"""
, w AS (SELECT unnest(words) AS word FROM wbase),
wc AS (SELECT word, count(*) AS tf FROM w GROUP BY word),
pairs AS (
    SELECT substr(word, i, 2) AS pair, CAST(sum(tf) AS BIGINT) AS n
    FROM wc CROSS JOIN unnest(range(1, length(word))) t(i)
    GROUP BY pair
)
SELECT pair, n, rn
FROM (SELECT *, row_number() OVER (ORDER BY n DESC, pair) AS rn FROM pairs)
WHERE rn <= 50
""",
)
def bpe_merge_candidates(spark, sf_dir):
    """One BPE-training step: corpus-wide counts of adjacent character
    pairs, weighted by word frequency — the argmax pair is the next merge.
    Pair generation runs on the (tiny) word-frequency table, not the corpus:
    the corpus is touched once for term frequencies, then every later BPE
    iteration would reuse that aggregate. Top-50 pruned via
    TakeOrderedAndProject before the rank window (vocab_topk discipline)."""
    docs = table(spark, sf_dir, "documents")
    w = spread_for_fanout(docs, "doc_id").select(
        F.explode(words_array("text")).alias("word")
    )
    wc = w.groupBy("word").agg(F.count(F.lit(1)).alias("tf"))
    # single-char words have no pairs; Spark's sequence(1, 0) would DESCEND
    # ([1,0]) rather than return empty like DuckDB's range(1,1) — filter first
    wc = wc.filter(F.length("word") >= 2)
    pairs = (
        wc.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.substring(F.col("word"), i, 2),
                )
            ).alias("pair"),
            "tf",
        )
        .groupBy("pair")
        .agg(F.sum("tf").cast("long").alias("n"))
    )
    top = pairs.orderBy(F.col("n").desc(), "pair").limit(50)
    win = Window.orderBy(F.col("n").desc(), "pair")
    return top.withColumn("rn", F.row_number().over(win)).select("pair", "n", F.col("rn").cast("long").alias("rn"))


_WIN_SIZE, _WIN_STRIDE = 32, 24


@query(
    "overlap_chunks",
    oracle=_WBASE
    + f"""
, won AS (SELECT doc_id, words, len(words) AS nw FROM wbase WHERE len(words) > 0)
SELECT doc_id,
       CAST(s // {_WIN_STRIDE} AS INT)          AS win_idx,
       CAST(s AS INT)                           AS start_word,
       CAST(least({_WIN_SIZE}, nw - s) AS INT)  AS n_win_words,
       md5(array_to_string(words[s + 1 : s + {_WIN_SIZE}], ' ')) AS win_hash
FROM won, LATERAL unnest(range(0, ((nw - 1) // {_WIN_STRIDE}) * {_WIN_STRIDE} + 1,
                               {_WIN_STRIDE})) t(s)
""",
)
def overlap_chunks(spark, sf_dir):
    """Overlapping context-window chunking — THE pretraining doc splitter:
    long documents become 32-word windows at stride 24 (8-word overlap),
    so no training example loses the context that crossed a hard chunk
    boundary (the overlap is why stride < size).
    Emits provenance (doc_id, window index, start offset, actual window
    length — the tail window may be short) plus the window content hash,
    which is what dedup/packing stages key on downstream.

    Plan: FULLY NARROW — tokenize, one sequence-explode of window starts,
    slice + md5, zero exchanges (pinned in test_round6c_ops): at 100 TB
    this is a pure map pass whose output shuffles only in whatever
    consumer follows. chunk_dedup is the non-overlapping sibling (fixed
    16-word chunks for C4-style dedup); this one feeds example
    construction."""
    docs = table(spark, sf_dir, "documents")
    w = words_array("text")
    based = docs.select("doc_id", w.alias("w")).where(F.size("w") > 0)
    # integer div for the last window start — float division would only
    # need a cast-truncate, but `div` keeps the arithmetic integer-exact
    starts = F.sequence(
        F.lit(0).cast("long"),
        F.expr(
            f"((size(w) - 1) div {_WIN_STRIDE}) * cast({_WIN_STRIDE} as long)"
        ),
        F.lit(_WIN_STRIDE).cast("long"),
    )
    win = F.slice("w", F.col("start") + 1, _WIN_SIZE)
    return (
        based.select("doc_id", F.size("w").alias("nw"), "w",
                     F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / _WIN_STRIDE).cast("int").alias("win_idx"),
            F.col("start").cast("int").alias("start_word"),
            F.least(F.lit(_WIN_SIZE), F.col("nw") - F.col("start"))
            .cast("int")
            .alias("n_win_words"),
            F.md5(F.array_join(win, " ")).alias("win_hash"),
        )
    )


@query(
    "sequence_packing",
    oracle=_WBASE
    + """
, toks AS (
    SELECT doc_id, source, len(words) AS n_tokens
    FROM (SELECT w.doc_id, d.source, w.words
          FROM wbase w JOIN documents d ON w.doc_id = d.doc_id)
), packed AS (
    SELECT doc_id, source, n_tokens,
           sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
    FROM toks
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor((cum_tokens - n_tokens) / 512) AS BIGINT) AS pack_id
FROM packed
""",
)
def sequence_packing(spark, sf_dir):
    """Training-batch sequence packing: docs streamed in (source, doc_id)
    order are packed into 512-token bins — pack_id = which bin this doc
    STARTS in (docs may straddle bins; the splitter downstream handles
    overflow). Cumulative sums run per source.

    Scale (r6 upgrade — this used to be a Window.partitionBy(source)
    cumsum, which at a handful of sources funnels a fifth of a 100 TB
    corpus through each window partition): the per-source running count
    now DERIVES from ONE global two-phase prefix sum ordered by
    (source, doc_id) — `per-source cumsum = global cumsum − the source's
    first global cumsum` (that first value is exactly the total tokens
    of all earlier sources). operators/ids.py global_prefix_sums spreads
    the work over every range partition; the per-source starts are a
    |sources|-row aggregate broadcast back. No window anywhere
    (plan-pinned); the oracle's per-source OVER (PARTITION BY source) is
    the semantic spec only — same hash as before the upgrade."""
    from mapreduce_model_spark.operators.ids import global_prefix_sums

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.size(words_array("text")).alias("n_tokens")
    )
    # c feeds BOTH the per-source starts aggregate and the final join —
    # checkpoint so the range exchange + Arrow cumsum pass runs once, not
    # twice (sharing a frame: registry.py docstring)
    c = global_prefix_sums(toks, ["source", "doc_id"], "n_tokens", "cum_g").localCheckpoint(eager=False)
    starts = c.groupBy("source").agg(F.min("cum_g").alias("src_start"))
    return c.join(F.broadcast(starts), "source").select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor((F.col("cum_g") - F.col("src_start")) / 512)
        .cast("long")
        .alias("pack_id"),
    )


_CAP_ALPHA = 0.7
_CAP_BUDGET_FRAC = 0.3


@query(
    "source_token_caps",
    oracle=rf"""
WITH toks AS (
    SELECT doc_id, source,
           len({words_sql()}) AS n_tokens
    FROM documents
), tot AS (
    SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
    FROM toks GROUP BY source
), g AS (
    SELECT CAST(sum(src_tokens) AS BIGINT) AS all_tokens,
           sum(pow(src_tokens, {_CAP_ALPHA})) AS z
    FROM tot
), bud AS (
    SELECT source, src_tokens,
           CAST(round(floor(all_tokens * {_CAP_BUDGET_FRAC})
                      * pow(src_tokens, {_CAP_ALPHA}) / z + 1e-3) AS BIGINT)
               AS token_budget
    FROM tot CROSS JOIN g
), cum AS (
    SELECT doc_id, source, n_tokens,
           coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_src
    FROM toks
), kept AS (
    SELECT c.source, count(*) AS n_docs_kept,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
    FROM cum c JOIN bud USING (source)
    WHERE cum_src < token_budget
    GROUP BY c.source
)
SELECT b.source, b.src_tokens, b.token_budget,
       coalesce(n_docs_kept, 0) AS n_docs_kept,
       coalesce(tokens_kept, 0) AS tokens_kept
FROM bud b LEFT JOIN kept k ON k.source = b.source
""",
)
def source_token_caps(spark, sf_dir):
    """Source capping — the corpus-assembly cut that stops any one source
    dominating the mix: each source gets a TOKEN budget proportional to
    its temperature-scaled share (tokens^α / Σ tokens^α of a global
    budget, α=0.7 — corpus_mix_temperature's math in token space), and
    its doc stream is cut greedily in deterministic (doc_id) order: a doc
    is kept iff it STARTS before the budget boundary (the straddling doc
    is kept whole — same rule as sequence_packing's bin straddle), so
    tokens_kept may exceed the budget by at most one document.

    Scale shape: budgets come from the |sources|-row token-total aggregate
    (one corpus scan, map-side combine) crossed with a 1-row broadcast;
    the per-source running count DERIVES from ONE global two-phase prefix
    sum ordered by (source, doc_id) (operators/ids.py global_prefix_sums
    — no window anywhere, plan-pinned) exactly as in sequence_packing;
    the cut itself is a narrow filter against two broadcast maps and the
    output is an algebraic per-source aggregate. The oracle's per-source
    OVER (PARTITION BY source) is the semantic spec only."""
    from mapreduce_model_spark.operators.ids import global_prefix_sums

    docs = table(spark, sf_dir, "documents")
    # TWO consumers tokenize the corpus through this frame (the budget
    # aggregate and the prefix-sum range exchange) — checkpoint the narrow
    # (id, source, n_tokens) rows so the regexp tokenize pass runs once
    # (r12, guide §5; same move as sequence_packing's checkpointed cumsum)
    toks = docs.select(
        "doc_id", "source", F.size(words_array("text")).alias("n_tokens")
    ).localCheckpoint(eager=False)
    tot = toks.groupBy("source").agg(
        F.sum("n_tokens").cast("long").alias("src_tokens")
    )
    g = tot.agg(
        F.sum("src_tokens").alias("all_tokens"),
        F.sum(F.pow("src_tokens", F.lit(_CAP_ALPHA))).alias("z"),
    )
    bud = (
        tot.crossJoin(F.broadcast(g))
        .select(
            "source",
            "src_tokens",
            F.round(
                F.floor(F.col("all_tokens") * _CAP_BUDGET_FRAC)
                * F.pow("src_tokens", F.lit(_CAP_ALPHA))
                / F.col("z")
                + 1e-3
            )
            .cast("long")
            .alias("token_budget"),
        )
        .localCheckpoint(eager=False)
    )
    # same derivation as sequence_packing: per-source cumsum = global
    # cumsum − the source's first global cumsum; c feeds starts + the cut
    c = global_prefix_sums(toks, ["source", "doc_id"], "n_tokens", "cum_g").localCheckpoint(eager=False)
    starts = c.groupBy("source").agg(F.min("cum_g").alias("src_start"))
    kept = (
        c.join(F.broadcast(starts), "source")
        .join(F.broadcast(bud.select("source", "token_budget")), "source")
        .filter(F.col("cum_g") - F.col("src_start") < F.col("token_budget"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").cast("long").alias("tokens_kept"),
        )
    )
    return bud.join(kept, "source", "left").select(
        "source",
        "src_tokens",
        "token_budget",
        F.coalesce("n_docs_kept", F.lit(0)).cast("long").alias("n_docs_kept"),
        F.coalesce("tokens_kept", F.lit(0)).cast("long").alias("tokens_kept"),
    )


@query(
    "token_entropy",
    oracle=rf"""
WITH wbase AS (
    SELECT source,
           {words_sql()} AS words
    FROM documents
), exploded AS (
    SELECT source, unnest(words) AS word FROM wbase
), wc AS (
    SELECT source, word, count(*) AS c FROM exploded GROUP BY source, word
), agg AS (
    SELECT source, CAST(sum(c) AS DOUBLE) AS t, sum(c * ln(c)) AS clnc,
           count(*) AS n_unique
    FROM wc GROUP BY source
)
SELECT source, CAST(t AS BIGINT) AS n_words, n_unique,
       round(1e-9 + ln(t) - clnc / t, 4) AS entropy_nats
FROM agg
""",
)
def token_entropy(spark, sf_dir):
    """Shannon entropy of each source's word distribution — the corpus-
    diversity signal a data-mixing curriculum reads (low entropy ⇒
    repetitive/templated source, high ⇒ diverse). Computed as
    H = ln(T) - Σ c·ln(c) / T over per-word counts, so the plan is two
    cascaded aggregations (word counts, then per-source moments) — no
    per-row probabilities, no join back to totals, and the second agg's
    input is exactly one row per distinct (source, word). Partial
    aggregation absorbs the explode fan-out map-side."""
    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id")
    wc = (
        docs.select("source", F.explode(words_array("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        wc.groupBy("source")
        .agg(
            F.sum("c").cast("double").alias("t"),
            F.sum(F.col("c") * F.log("c")).alias("clnc"),
            F.count(F.lit(1)).alias("n_unique"),
        )
        .select(
            "source",
            F.col("t").cast("long").alias("n_words"),
            "n_unique",
            rnd(F.log("t") - F.col("clnc") / F.col("t"), 4).alias("entropy_nats"),
        )
    )


@query(
    "bigram_pmi",
    oracle=rf"""
WITH wbase AS (
    SELECT {words_sql()} AS words
    FROM documents
), bi AS (
    SELECT unnest(list_transform(range(1, len(words)),
                                 i -> words[i] || ' ' || words[i + 1])) AS bg
    FROM wbase WHERE len(words) >= 2
), uni AS (
    SELECT unnest(words) AS w FROM wbase
), ucnt AS (
    SELECT w, count(*) AS c FROM uni GROUP BY w
), bcnt AS (
    SELECT bg, count(*) AS c_xy FROM bi GROUP BY bg
), tot AS (
    SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM ucnt) AS tu,
           (SELECT CAST(sum(c_xy) AS DOUBLE) FROM bcnt) AS tb
)
SELECT bg, c_xy,
       round(1e-9 + ln(c_xy) - ln(tb) - ln(cx.c) - ln(cy.c) + 2 * ln(tu), 4)
           AS pmi
FROM bcnt
JOIN ucnt cx ON cx.w = split_part(bg, ' ', 1)
JOIN ucnt cy ON cy.w = split_part(bg, ' ', 2)
CROSS JOIN tot
WHERE c_xy >= 5
ORDER BY pmi DESC, bg
LIMIT 100
""",
)
def bigram_pmi(spark, sf_dir):
    """Collocation mining: pointwise mutual information of adjacent word
    pairs — PMI = ln P(xy) - ln P(x) - ln P(y), high for phrases that
    co-occur far above chance (the classic phrase-vocabulary signal for
    tokenizer construction).

    Scale: bigram and unigram counts are two explode→agg passes with
    map-side partials; the two probability joins are word-keyed shuffle
    joins (the unigram vocabulary of a 100 TB corpus is NOT broadcastable
    — Zipf or not, it's tens of GB), and both reuse the same hashed
    distribution on the word key. The min-support filter (c_xy >= 5) cuts
    the PMI ranking to phrases with evidence before the top-k, which is a
    per-partition TakeOrderedAndProject, never a global sort."""
    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id")
    words = words_array("text")
    bigrams = F.when(
        F.size(words) >= 2,
        F.zip_with(
            F.slice(words, 1, F.size(words) - 1),
            F.slice(words, 2, F.size(words) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bcnt = (
        docs.select(F.explode(bigrams).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    ucnt = (
        docs.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # full (unfiltered) totals, 1-row broadcasts — computed from array
    # SIZES (one narrow scan, no row-per-token explode): total unigrams =
    # Σ|words|, total bigrams = Σ max(|words|-1, 0)
    tu = docs.select(F.size(words).alias("nw")).agg(
        F.sum("nw").cast("double").alias("tu")
    )
    tb = docs.select(F.greatest(F.size(words) - 1, F.lit(0)).alias("nb")).agg(
        F.sum("nb").cast("double").alias("tb")
    )
    cx = ucnt.select(F.col("w").alias("x_w"), F.col("c").alias("cx"))
    cy = ucnt.select(F.col("w").alias("y_w"), F.col("c").alias("cy"))
    return (
        bcnt.withColumn("x", F.split_part("bg", F.lit(" "), F.lit(1)))
        .withColumn("y", F.split_part("bg", F.lit(" "), F.lit(2)))
        .join(cx, F.col("x") == F.col("x_w"))
        .join(cy, F.col("y") == F.col("y_w"))
        .join(F.broadcast(tu))
        .join(F.broadcast(tb))
        .select(
            "bg",
            "c_xy",
            rnd(
                F.log("c_xy")
                - F.log("tb")
                - F.log("cx")
                - F.log("cy")
                + 2 * F.log("tu"),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "bg")
        .limit(100)
    )


# Shared SQL front end of both corpus-build oracles: quality gates → exact
# keep-first dedup, ending at the `exact` survivor CTE (doc_id, source,
# n_chars, text). The twin of _quality_exact_corpus below.
_CORPUS_EXACT_CTE = _WBASE.replace(
    "SELECT doc_id, text, lang,",
    "SELECT doc_id, text, lang, source, n_chars,",
) + f"""
, kept AS (
    SELECT doc_id, source, n_chars, text FROM wbase
    WHERE len(words) >= 50
      AND (text LIKE '%.' OR text LIKE '%!' OR text LIKE '%?' OR text LIKE '%"')
      AND NOT (contains(text, '{{') OR contains(text, '}}'))
      AND CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
          / len(words) BETWEEN 3.0 AND 10.0
      AND CAST(len(list_filter(words, w -> w IN {_SQL_STOP})) AS DOUBLE)
          / len(words) >= 0.01
), survivors AS (
    SELECT md5(text) AS h, min(doc_id) AS keep_id FROM kept GROUP BY md5(text)
), exact AS (
    SELECT k.doc_id, k.source, k.n_chars, k.text
    FROM kept k JOIN survivors s ON k.doc_id = s.keep_id
)"""

# Deterministic md5 split buckets — twin of _split_manifest.
_SPLIT_CASE = (
    "CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))"
    "::BIGINT % 100 < 80 THEN 'train' "
    "WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))"
    "::BIGINT % 100 < 90 THEN 'val' ELSE 'test' END"
)


@query(
    "corpus_build_pipeline",
    oracle=_CORPUS_EXACT_CTE
    + f"""
, final AS (
    SELECT doc_id, source, n_chars, {_SPLIT_CASE} AS split FROM exact
)
SELECT split, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM final GROUP BY split, source
""",
)
def corpus_build_pipeline(spark, sf_dir):
    """The corpus build END-TO-END in one declarative plan: C4/Gopher
    quality gates (c4_filters' keep predicate) → exact dedup keep-first
    (md5 groupBy + min-id semi join, the dedup_exact shape — no per-group
    sort) → deterministic md5 train/val/test split (train_val_split's
    buckets) → the (split, source) manifest a training job consumes.

    The point: each stage exists as a standalone oracle-checked query;
    composing them stays ONE Catalyst plan — the quality filter fuses into
    the scan, the only data-sized shuffle is the dedup groupBy on the
    16-byte text hash, and the split assignment is a narrow projection on
    the survivors. At 100 TB this whole pipeline is scan → one exchange →
    tiny report aggregate."""
    return _split_manifest(_quality_exact_corpus(table(spark, sf_dir, "documents")))


def _quality_exact_corpus(docs):
    """Shared front end of the corpus-build pipelines: C4/Gopher quality
    gates fused into the scan, then exact keep-first dedup (md5 groupBy +
    min-id semi join). Returns (doc_id, source, n_chars, text)."""
    words = words_array("text")
    nw = F.size(words)
    mean_len = F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w)).cast(
        "double"
    ) / nw
    stop_ratio = (
        F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).cast("double") / nw
    )
    terminal = (
        F.col("text").endswith(".")
        | F.col("text").endswith("!")
        | F.col("text").endswith("?")
        | F.col("text").endswith('"')
    )
    curly = F.col("text").contains("{") | F.col("text").contains("}")
    kept = docs.filter(
        (nw >= 50)
        & terminal
        & ~curly
        & mean_len.between(3.0, 10.0)
        & (stop_ratio >= 0.01)
    ).select("doc_id", "source", "n_chars", "text")
    survivors = kept.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("keep_id")
    )
    # survivors is one row per DISTINCT text — corpus-sized, so no
    # broadcast hint: the keep-id semi join shuffles on doc_id (AQE may
    # still broadcast it when the filtered corpus is actually small)
    return kept.join(
        survivors.select("keep_id"),
        kept.doc_id == F.col("keep_id"),
        "left_semi",
    )


def _split_manifest(final):
    """Deterministic md5 train/val/test split → (split, source) manifest."""
    bucket = md5_int32(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    return (
        final.withColumn("split", split)
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def _near_pipeline_oracle() -> str:
    """corpus_build_pipeline_near's oracle: the exact-dedup prefix, the
    parameterized LSH pair pipeline run over the `exact` survivor subset,
    recursive-CTE connected components (min reachable label), keep-first
    survivors, then the split manifest."""
    from mapreduce_model_spark.functions.dedup_sql import (
        components_cte,
        lsh_cte,
    )

    return (
        _CORPUS_EXACT_CTE
        + ",\n"
        + lsh_cte("exact", "_l")
        + ", "
        + components_cte("_l")
        + f"""
, final AS (
    SELECT e.doc_id, e.source, e.n_chars, {_SPLIT_CASE} AS split
    FROM exact e LEFT JOIN comp_l c ON e.doc_id = c.node
    WHERE coalesce(c.component, e.doc_id) = e.doc_id
)
SELECT split, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM final GROUP BY split, source
"""
    ).replace("WITH wbase", "WITH RECURSIVE wbase", 1)


@query("corpus_build_pipeline_near", oracle=_near_pipeline_oracle())
def corpus_build_pipeline_near(spark, sf_dir):
    """corpus_build_pipeline with a SECOND dedup gate: after the exact
    keep-first pass, MinHash-LSH candidate pairs feed distributed connected
    components, and only cluster survivors (min doc_id per near-dup
    component) reach the split/manifest stage — the full production recipe
    (quality → exact dedup → near dedup → split → manifest) as one
    composition of the standalone oracle-checked stages.

    Scale shape: the near gate adds the LSH banded self-join (bucketed,
    hot-bucket-capped — never all-pairs) and an iterative fixpoint over the
    PAIR GRAPH only (pairs ≪ corpus); the corpus itself is touched by one
    extra survivor semi-join. Hash-checked (r6): the oracle composes the
    shared lsh_cte over the exact-survivor subset with the recursive-CTE
    component labeling from the dedup_clusters oracle; the operator-level
    survivor recomputation pin in tests/test_round3_ops.py stays as
    defense in depth."""
    from mapreduce_model_spark.operators.dedup import (
        lsh_near_dup_pairs,
        minhash_signatures,
    )
    from mapreduce_model_spark.operators.graph import dedup_survivors
    from mapreduce_model_spark.functions.dedup_sql import (
        BANDS,
        K,
        LSH_THRESHOLD,
        MAX_BUCKET,
        ROWS,
        SHINGLE_K,
    )

    exact = _quality_exact_corpus(table(spark, sf_dir, "documents"))
    sig = minhash_signatures(exact, k=K, shingle_k=SHINGLE_K)
    pairs = lsh_near_dup_pairs(
        sig, bands=BANDS, rows=ROWS, threshold=LSH_THRESHOLD, max_bucket=MAX_BUCKET
    ).select("id_a", "id_b")
    keep = (
        dedup_survivors(exact.select("doc_id"), pairs)
        .filter("is_survivor")
        .select("doc_id")
    )
    return _split_manifest(exact.join(keep, "doc_id", "left_semi"))


# --- retrieval scoring, frequency sketches, cross-source overlap -----------

_BM25_TERMS = ("hash", "join", "window")
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in _BM25_TERMS) + ")"


@query(
    "bm25_topk",
    oracle=_WBASE
    + f"""
, wl AS (SELECT doc_id, len(words) AS dl FROM wbase),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM wl),
w AS (SELECT doc_id, unnest(words) AS word FROM wbase),
tf AS (
    SELECT doc_id, word, count(*) AS tf
    FROM w WHERE word IN {_BM25_TERMS_SQL} GROUP BY doc_id, word
), dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
sc AS (
    SELECT tf.doc_id,
           sum(ln(1.0 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * wl.dl / stats.avgdl))
           ) AS score
    FROM tf JOIN dfq USING (word) JOIN wl USING (doc_id) CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id, round(1e-9 + score, 6) AS bm25
FROM sc ORDER BY bm25 DESC, doc_id LIMIT 20
""",
)
def bm25_topk(spark, sf_dir):
    """BM25 top-20 retrieval for a fixed query-term set — the ranking
    function behind corpus search and hard-negative mining.

    Scale shape: the corpus is scanned TWICE and never more — pass 1 is
    the narrow per-doc length projection (checkpointed while the 1-row
    N/avgdl aggregate materializes it, so the score join re-reads the
    cache, robust_outliers-style); pass 2 explodes words but filters to
    the query terms BEFORE the (doc, term) aggregate, so the shuffle
    carries only matching-term partials. Per-term document frequencies
    (|terms| rows) and the corpus stats (1 row) broadcast back; the final
    top-k is TakeOrderedAndProject (per-partition heaps, never a global
    sort)."""
    docs = table(spark, sf_dir, "documents")
    wl = docs.select("doc_id", F.size(words_array("text")).alias("dl")).localCheckpoint(eager=False)
    stats = wl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        spread_for_fanout(docs.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.explode(words_array("text")).alias("word"))
        .filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        # two consumers (df aggregate + score join) — checkpoint the tiny
        # (matching docs × |terms|) frame or the corpus explode runs twice
        .localCheckpoint(eager=False)
    )
    dfq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    k1, b = _BM25_K1, _BM25_B
    comp = (
        tf.join(F.broadcast(dfq), "word")
        .join(wl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * F.col("tf")
                * (k1 + 1.0)
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("c"),
        )
    )
    sc = comp.groupBy("doc_id").agg(rnd(F.sum("c"), 6).alias("bm25"))
    return sc.orderBy(F.col("bm25").desc(), "doc_id").limit(20)


_CMS_D, _CMS_W = 4, 64


def _cms_bucket_sql(word_expr: str, r: int) -> str:
    return f"(('0x' || substr(md5('{r}:' || {word_expr}), 1, 8))::BIGINT % {_CMS_W})"


@query(
    "cms_heavy_hitters",
    oracle=_WBASE
    + f"""
, w AS (SELECT unnest(words) AS word FROM wbase),
wc AS (SELECT word, count(*) AS n FROM w GROUP BY word),
rows_ AS (SELECT unnest([{", ".join(str(r) for r in range(_CMS_D))}]) AS r),
buckets AS (
    SELECT r, word, n,
           CASE {" ".join(f"WHEN r = {r} THEN {_cms_bucket_sql('word', r)}" for r in range(_CMS_D))} END AS bkt
    FROM wc CROSS JOIN rows_
), sketch AS (
    SELECT r, bkt, CAST(sum(n) AS BIGINT) AS bn FROM buckets GROUP BY r, bkt
), cand AS (SELECT word, n FROM wc ORDER BY n DESC, word LIMIT 20)
SELECT b.word AS word, CAST(min(b.n) AS BIGINT) AS n, min(s.bn) AS cms_est
FROM buckets b JOIN sketch s USING (r, bkt) JOIN cand USING (word)
GROUP BY b.word
""",
)
def cms_heavy_hitters(spark, sf_dir):
    """Count-Min-Sketch frequency estimation for the top-20 heavy-hitter
    words: build a d×w sketch (d=4 md5-derived hash rows, w=64 buckets —
    deliberately small so collisions actually occur and the one-sided
    overestimate property is exercised), then read the 20 heaviest words
    back out of it. The sketch is FULLY oracle-checkable because the
    bucket hashes are md5-derived — DuckDB rebuilds the identical sketch.

    Scale shape: word counts are one hash exchange with map-side partials;
    the sketch is a SUM-mergeable d×w matrix (fixed 4×64 rows no matter
    the corpus — the mergeable-sketch pattern shared with
    quantile_mergeable_histogram and HLL), so the second aggregate
    exchanges at most d×w partials per task; candidate selection is
    TakeOrderedAndProject and the estimate join broadcasts the 256-row
    sketch. Property asserted in tests: cms_est >= n for every word."""
    docs = table(spark, sf_dir, "documents")
    wc = (
        spread_for_fanout(docs.select("doc_id", "text"), "doc_id")
        .select(F.explode(words_array("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        # three consumers (sketch build, candidate top-k, estimate probe) —
        # checkpoint the vocab-sized counts or the corpus explode runs thrice
        .localCheckpoint(eager=False)
    )
    rb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    (
                        md5_int32(F.concat(F.lit(f"{r}:"), F.col("word")))
                        % _CMS_W
                    ).alias("bkt"),
                )
                for r in range(_CMS_D)
            ]
        )
    )
    buckets = wc.select("word", "n", rb.alias("rb")).select(
        "word", "n", F.col("rb.r").alias("r"), F.col("rb.bkt").alias("bkt")
    )
    # d×w-row mergeable sketch; materialized once via broadcast below
    sketch = buckets.groupBy("r", "bkt").agg(F.sum("n").alias("bn"))
    cand = wc.orderBy(F.col("n").desc(), "word").limit(20)
    return (
        buckets.join(F.broadcast(cand.select("word")), "word")
        .join(F.broadcast(sketch), ["r", "bkt"])
        .groupBy("word")
        .agg(F.min("n").alias("n"), F.min("bn").alias("cms_est"))
    )


@query(
    "source_overlap",
    oracle=rf"""
WITH wbase AS (
    SELECT doc_id, source,
           {words_sql()} AS words
    FROM documents
), sh AS (
    SELECT source, unnest(list_distinct(
        list_transform(range(1, len(words) - 1),
                       i -> array_to_string(words[i:i+2], ' ')))) AS s
    FROM wbase WHERE len(words) >= 3
), ss AS (
    SELECT DISTINCT source,
           ('0x' || substr(md5(s), 1, 8))::BIGINT % 2147483647 AS x
    FROM sh
), tot AS (SELECT source, count(*) AS n_sh FROM ss GROUP BY source)
SELECT a.source AS source_a, b.source AS source_b,
       count(*) AS n_shared,
       round(1e-9 + CAST(count(*) AS DOUBLE)
             / (ta.n_sh + tb.n_sh - count(*)), 6) AS jaccard
FROM ss a JOIN ss b ON a.x = b.x AND a.source < b.source
JOIN tot ta ON ta.source = a.source
JOIN tot tb ON tb.source = b.source
GROUP BY a.source, b.source, ta.n_sh, tb.n_sh
""",
)
def source_overlap(spark, sf_dir):
    """Cross-source corpus overlap matrix: shingle-level Jaccard between
    every pair of sources — the dataset-curation signal for "how much of
    source B already lives in source A" (licensing audits, mixture
    design, leakage screens at the SOURCE level rather than the doc level
    of dedup_cross_source).

    Scale shape: the (source, shingle) set is ONE distinct aggregate over
    the exploded corpus (shuffle on the 8-byte hash); the pair join is
    keyed on the shingle hash, and each shingle contributes at most
    |sources|² pairs — bounded by the source count, not the corpus, the
    same blocking argument as dedup's band join. Per-source totals
    broadcast back (|sources| rows)."""
    from mapreduce_model_spark.operators.dedup import MERSENNE_P

    docs = table(spark, sf_dir, "documents")
    ss = (
        spread_for_fanout(docs.select("doc_id", "source", "text"), "doc_id")
        .select(
            "source",
            F.explode(F.array_distinct(shingles(words_array("text"), 3))).alias("s"),
        )
        .select("source", (md5_int32(F.col("s")) % MERSENNE_P).alias("x"))
        .distinct()
        # three consumers (totals + both pair-join sides) — checkpoint the
        # (source, shingle-hash) set or the corpus explode runs three times
        .localCheckpoint(eager=False)
    )
    tot = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = ss.alias("a"), ss.alias("b")
    pairs = (
        a.join(b, (F.col("a.x") == F.col("b.x")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("n_sh").alias("na"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("n_sh").alias("nb"))
    return (
        pairs.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            rnd(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


_LM_K = 0.5  # add-k smoothing


@query(
    "lm_perplexity",
    oracle=rf"""
WITH wbase AS (
    SELECT doc_id,
           {words_sql()} AS words
    FROM documents
), bi AS (
    SELECT doc_id, unnest(list_transform(range(1, len(words)),
                                         i -> words[i] || ' ' || words[i + 1])) AS bg
    FROM wbase WHERE len(words) >= 2
), bcnt AS (
    SELECT bg, count(*) AS c_xy FROM bi GROUP BY bg
), cctx AS (
    SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c_xy) AS DOUBLE) AS cc
    FROM bcnt GROUP BY 1
), vocab AS (
    SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
    FROM (SELECT unnest(words) AS w FROM wbase)
), term AS (
    SELECT bi.doc_id,
           ln((b.c_xy + 0.5) / (c.cc + 0.5 * vocab.v)) AS lp
    FROM bi
    JOIN bcnt b USING (bg)
    JOIN cctx c ON c.w1 = split_part(bi.bg, ' ', 1)
    CROSS JOIN vocab
)
SELECT doc_id, count(*) AS n_bigrams, round(1e-9 + exp(-avg(lp)), 4) AS ppl
FROM term GROUP BY doc_id
""",
)
def lm_perplexity(spark, sf_dir):
    """Per-document perplexity under an add-k-smoothed bigram language
    model trained on the corpus itself — the classic statistical quality
    score (boilerplate and gibberish sit at the perplexity extremes;
    Gopher/CCNet-style filters threshold on exactly this signal).
    p(w2|w1) = (C(w1w2)+k) / (Cctx(w1)+k·V), ppl = exp(−mean ln p).

    Scale shape: the train pass (bigram counts) and the score pass are
    two separate corpus explodes BY DESIGN — checkpointing the exploded
    token stream would store a corpus-sized frame, while re-scanning
    parquet is the cheaper side of that trade (contrast robust_outliers,
    which caches a narrow projection); the vocabulary size V is a third
    scan but collapses to per-partition longs after the distributed
    distinct (nothing vocab-sized ever crosses a single partition). The count tables are word-keyed
    and join back on the SAME word/bigram hash distribution (not
    broadcast — a 100 TB corpus's bigram vocabulary is tens of GB, the
    bigram_pmi argument); only V (one row) broadcasts."""
    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id")
    words = words_array("text")
    bigrams = F.when(
        F.size(words) >= 2,
        F.zip_with(
            F.slice(words, 1, F.size(words) - 1),
            F.slice(words, 2, F.size(words) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = docs.select("doc_id", F.explode(bigrams).alias("bg"))
    bcnt = (
        bi.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        # two consumers (context sums + the score join) — checkpoint the
        # bigram-vocab-sized counts, not the corpus-sized token stream
        .localCheckpoint(eager=False)
    )
    cctx = (
        bcnt.select(F.split_part("bg", F.lit(" "), F.lit(1)).alias("w1"), "c_xy")
        .groupBy("w1")
        .agg(F.sum("c_xy").cast("double").alias("cc"))
    )
    vocab = docs.select(F.explode(words).alias("w")).agg(
        F.count_distinct("w").cast("double").alias("v")
    )
    k = _LM_K
    term = (
        bi.withColumn("w1", F.split_part("bg", F.lit(" "), F.lit(1)))
        .join(bcnt, "bg")
        .join(cctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log((F.col("c_xy") + k) / (F.col("cc") + k * F.col("v"))).alias("lp"),
        )
    )
    return term.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        rnd(F.exp(-F.avg("lp")), 4).alias("ppl"),
    )


@query(
    "ngram_novelty",
    oracle=rf"""
WITH wbase AS (
    SELECT doc_id,
           {words_sql()} AS words
    FROM documents
), sh AS (
    SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, len(words) - 1),
                       i -> array_to_string(words[i:i+2], ' ')))) AS s
    FROM wbase WHERE len(words) >= 3
), shx AS (
    SELECT DISTINCT doc_id,
           ('0x' || substr(md5(s), 1, 8))::BIGINT % 2147483647 AS x
    FROM sh
), flagged AS (
    SELECT doc_id, x, min(doc_id) OVER (PARTITION BY x) AS first_doc
    FROM shx
)
SELECT doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel,
       round(1e-9 + CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                         AS DOUBLE) / count(*), 6) AS novelty
FROM flagged GROUP BY doc_id
""",
)
def ngram_novelty(spark, sf_dir):
    """Shingle-level novelty score: the fraction of a document's distinct
    3-gram shingles that appear in NO earlier document (by doc_id order) —
    the incremental-crawl signal for "how much new content does this doc
    add", the per-doc dual of source_overlap and a soft version of
    near-dedup (a doc with novelty 0 is entirely stitched from earlier
    content).

    Scale shape: ONE corpus explode into (doc, shingle-hash), then a
    min-over-shingle WINDOW (hash exchange on the shingle key, unbounded
    frame so no within-partition sort semantics beyond grouping) and a
    doc-keyed aggregate — no self-join, no second scan, and the hot-key
    risk (a shingle in every doc) is only ever |occurrences| rows through
    one min, never a pair blowup."""
    from mapreduce_model_spark.operators.dedup import doc_shingle_hashes

    docs = table(spark, sf_dir, "documents")
    shx = doc_shingle_hashes(docs, k=3)
    w = Window.partitionBy("x")
    flagged = shx.select(
        "doc_id", "x", F.min("doc_id").over(w).alias("first_doc")
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
        .cast("long")
        .alias("n_novel"),
        rnd(
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("novelty"),
    )


_BP_MIN_FRAC = 0.08
_BP_MIN_DOCS = 2


@query(
    "boilerplate_ngrams",
    oracle=rf"""
WITH wbase AS (
    SELECT doc_id, source,
           {words_sql()} AS words
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id, source, unnest(list_distinct(
        list_transform(range(1, len(words) - 1),
                       i -> array_to_string(words[i:i+2], ' ')))) AS shingle
    FROM wbase WHERE len(words) >= 3
), src AS (SELECT source, count(*) AS src_docs FROM documents GROUP BY source),
agg AS (
    SELECT source, shingle, count(*) AS n_with FROM sh GROUP BY source, shingle
)
SELECT agg.source, shingle, n_with,
       round(1e-9 + CAST(n_with AS DOUBLE) / src_docs, 6) AS df_frac
FROM agg JOIN src USING (source)
WHERE n_with >= {_BP_MIN_DOCS}
  AND CAST(n_with AS DOUBLE) / src_docs >= {_BP_MIN_FRAC}
""",
)
def boilerplate_ngrams(spark, sf_dir):
    """Per-source boilerplate shingles: 3-grams present in ≥ 8% of a
    source's documents (and ≥ 2 docs) — the nav-bar / footer / disclaimer
    detector that runs BEFORE near-dedup in a corpus build, since
    boilerplate inflates every pairwise similarity downstream. Emits the
    shingle text (not a hash): the output is a reviewable blocklist.

    Scale shape: one corpus explode into per-doc DISTINCT (source, shingle)
    rows, one algebraic count aggregate keyed on (source, shingle) — the
    only data-sized shuffle, partial-agged map-side — then a broadcast join
    of per-source doc totals (|sources| rows). Hot shingles are safe: they
    flow through a count, never a pair join. The 100 TB variant drops the
    shingle STRING from the shuffle key in favor of its hash and joins the
    text back for the tiny surviving set; kept inline here because the
    output is the human-readable artifact."""
    from mapreduce_model_spark.functions.partitioning import spread_for_fanout

    docs = table(spark, sf_dir, "documents")
    # the shingle explode is the expensive branch: spread the narrow input
    # first or a single-file scan runs it in one task (measured 9.5 s -> 1 s
    # at sf0.1); the totals branch stays on the raw scan (tiny)
    spread = spread_for_fanout(docs, "doc_id")
    sh = (
        spread.select(
            "doc_id",
            "source",
            F.explode(F.array_distinct(shingles(words_array("text"), 3))).alias(
                "shingle"
            ),
        )
    )
    src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("src_docs"))
    agg = sh.groupBy("source", "shingle").agg(F.count(F.lit(1)).alias("n_with"))
    frac = F.col("n_with").cast("double") / F.col("src_docs")
    return (
        agg.join(F.broadcast(src), "source")
        .filter((F.col("n_with") >= _BP_MIN_DOCS) & (frac >= _BP_MIN_FRAC))
        .select("source", "shingle", "n_with", rnd(frac, 6).alias("df_frac"))
    )


_PHRASE = ("table", "scan")


@query(
    "phrase_search",
    oracle=rf"""
WITH wbase AS (
    SELECT doc_id,
           {words_sql()} AS words
    FROM documents
), pos AS (
    SELECT doc_id, unnest(words) AS word,
           generate_subscripts(words, 1) AS pos
    FROM wbase
)
SELECT a.doc_id,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(min(a.pos) - 1 AS BIGINT) AS first_pos
FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.word = '{_PHRASE[0]}' AND b.word = '{_PHRASE[1]}'
GROUP BY a.doc_id
""",
)
def phrase_search(spark, sf_dir):
    """Positional phrase search — exact-phrase retrieval ("table scan")
    over the positional index, the IR operation a bag-of-words inverted
    index cannot answer. Adjacency is POSITION ARITHMETIC: postings for
    word_i join postings for word_{i+1} on (doc, pos+1).

    Scale: each posting list is FILTERED to its phrase word before the
    join — the join inputs are two term-posting lists (selective), keyed
    on (doc_id, position), never the full positional index against
    itself. Longer phrases chain one join per extra word, each further
    shrinking the candidate set. first_pos is 0-based (the engine's
    token_positions convention)."""
    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id")
    # tokenize the corpus ONCE: restrict to the phrase vocabulary in the
    # same pass and checkpoint the (tiny) postings frame — without it, each
    # word branch of the self-join re-runs the full posexplode fan-out
    pos = (
        docs.select(
            "doc_id",
            F.posexplode(words_array("text")).alias("pos", "word"),
        )
        .where(F.col("word").isin(*_PHRASE))
        .localCheckpoint(eager=False)
    )
    a = pos.where(F.col("word") == _PHRASE[0]).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    b = pos.where(F.col("word") == _PHRASE[1]).select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    m = a.join(b, "doc_id").where(F.col("pos_b") == F.col("pos_a") + 1)
    return m.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("pos_a").cast("long").alias("first_pos"),
    )


_VOCAB_SIZES = (8, 16, 24, 32)


@query(
    "vocab_coverage_curve",
    oracle=_WBASE
    + f"""
, tf AS (
    SELECT word, count(*) AS n
    FROM (SELECT unnest(words) AS word FROM wbase) GROUP BY word
), tot AS (SELECT sum(n) AS total FROM tf),
ranked AS (
    SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rk
    FROM tf ORDER BY n DESC, word LIMIT {max(_VOCAB_SIZES)}
), cum AS (
    SELECT rk, sum(n) OVER (ORDER BY rk) AS cum_n FROM ranked
)
SELECT CAST(s.vocab_size AS BIGINT) AS vocab_size,
       round(max(c.cum_n) / t.total + 1e-9, 4)  AS coverage,
       round(1 - max(c.cum_n) / t.total + 1e-9, 4) AS oov_rate
FROM (VALUES {", ".join(f"({s})" for s in _VOCAB_SIZES)}) AS s(vocab_size)
JOIN cum c ON c.rk <= s.vocab_size
CROSS JOIN tot t
GROUP BY s.vocab_size, t.total
""",
)
def vocab_coverage_curve(spark, sf_dir):
    """Vocabulary sizing curve: corpus token coverage (and OOV rate) at
    candidate vocabulary sizes, with the vocabulary greedily chosen by
    frequency — the tokenizer-design question ("how big must the vocab be
    for <1% OOV?") answered from one corpus pass.

    Scale: one explode+count pass builds term frequencies (map-side
    combined); only the TOP max(sizes) words survive a
    TakeOrderedAndProject before any window runs (the vocab_topk
    discipline — the full vocabulary never funnels through one
    partition), and the total-token count is a 1-row broadcast."""
    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id")
    # tf feeds BOTH the total-token aggregate and the top-N pick, and
    # Catalyst does not reuse the exchange across the two subtrees (plan
    # audit r12: 4 parquet scans, 0 ReusedExchange) — checkpoint the
    # vocab-sized count frame so the corpus tokenize+explode runs once
    tf = (
        docs.select(F.explode(words_array("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = tf.agg(F.sum("n").alias("total"))
    top = tf.orderBy(F.desc("n"), "word").limit(max(_VOCAB_SIZES))
    w = Window.orderBy(F.desc("n"), "word")
    cum = top.select(
        F.row_number().over(w).alias("rk"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_n"),
    )
    sizes = spark.createDataFrame(
        [(s,) for s in _VOCAB_SIZES], "vocab_size long"
    )
    # rk <= size (not rk == size): a candidate size larger than the actual
    # vocabulary must still report its (full) coverage; cum_n is monotone
    # in rk, so the size's coverage is the MAX cum_n among ranks <= size
    return (
        sizes.join(F.broadcast(cum), cum["rk"] <= sizes["vocab_size"])
        .crossJoin(F.broadcast(tot))
        .groupBy("vocab_size", "total")
        .agg(F.max("cum_n").alias("cum_n"))
        .select(
            "vocab_size",
            rnd(F.col("cum_n") / F.col("total"), 4).alias("coverage"),
            rnd(1 - F.col("cum_n") / F.col("total"), 4).alias("oov_rate"),
        )
    )


_DSIR_B = 256  # hashed-feature buckets; collisions are part of the method
_DSIR_TARGET = "src0"  # the "high-quality domain" proxy the sampler aims at


@query(
    "dsir_importance",
    oracle=rf"""
WITH sbase AS (
    SELECT doc_id, source,
           {words_sql()} AS words
    FROM documents
), f AS (
    SELECT doc_id, source,
           ('0x' || substr(md5(bg), 1, 8))::BIGINT % {_DSIR_B} AS b
    FROM (SELECT doc_id, source,
                 unnest(list_transform(range(1, len(words)),
                                       i -> words[i] || ' ' || words[i + 1])) AS bg
          FROM sbase WHERE len(words) >= 2)
), cnt AS (
    SELECT b, count(*) AS r,
           sum(CASE WHEN source = '{_DSIR_TARGET}' THEN 1 ELSE 0 END) AS t
    FROM f GROUP BY b
), tot AS (
    SELECT CAST(sum(r) AS DOUBLE) AS tr, CAST(sum(t) AS DOUBLE) AS tt FROM cnt
), lam AS (
    SELECT b, ln((t + 1)::DOUBLE / (tt + {_DSIR_B}))
             - ln((r + 1)::DOUBLE / (tr + {_DSIR_B})) AS lam
    FROM cnt CROSS JOIN tot
)
SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       round(avg(lam) + 1e-9, 4) AS dsir_logratio
FROM f JOIN lam USING (b)
GROUP BY f.doc_id
""",
)
def dsir_importance(spark, sf_dir):
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every document by how much more likely its hashed-bigram bag is
    under the TARGET domain's feature distribution than under the raw
    corpus's — avg over the doc's features of ln p_target(b) - ln p_raw(b),
    add-1 smoothed over {_DSIR_B} md5 buckets. Sampling proportional to
    this weight tilts a 100 TB crawl toward the target domain (here the
    'src0' feed as the quality proxy) without training a classifier.

    Scale: two passes over the corpus, both explode→partial-agg. Pass 1
    builds the {_DSIR_B}-row bucket table — the exchange carries 256 keys
    × task partials, nothing else; the totals are a 1-row agg over 256
    rows. Pass 2 re-derives features narrowly in the scan stage and joins
    the BROADCAST λ table (256 rows), so per-doc scoring is one doc_id
    exchange of map-side-combined (sum, count) partials. The token-sized
    exploded frame is deliberately NOT checkpointed — rescanning parquet is
    cheaper than storing a row-per-token frame at scale."""
    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id")
    words = words_array("text")
    bigrams = F.when(
        F.size(words) >= 2,
        F.zip_with(
            F.slice(words, 1, F.size(words) - 1),
            F.slice(words, 2, F.size(words) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # hash INSIDE the array (narrow, scan-stage), then explode ints only.
    # feats feeds the bucket-count aggregate AND the final scoring join;
    # cnt feeds the grand-total aggregate AND the lambda table — without
    # the checkpoints each consumer re-runs the corpus tokenize + bigram
    # hash (plan audit r12: 6 parquet scans, 0 ReusedExchange)
    buckets = F.transform(bigrams, lambda bg: F.pmod(md5_int32(bg), F.lit(_DSIR_B)))
    feats = docs.select("doc_id", "source", F.explode(buckets).alias("b")).localCheckpoint(eager=False)
    cnt = feats.groupBy("b").agg(
        F.count(F.lit(1)).alias("r"),
        F.sum(F.when(F.col("source") == _DSIR_TARGET, 1).otherwise(0)).alias("t"),
    ).localCheckpoint(eager=False)
    tot = cnt.agg(
        F.sum("r").cast("double").alias("tr"), F.sum("t").cast("double").alias("tt")
    )
    lam = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("t") + 1).cast("double") / (F.col("tt") + _DSIR_B))
            - F.log((F.col("r") + 1).cast("double") / (F.col("tr") + _DSIR_B))
        ).alias("lam"),
    )
    return (
        feats.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            rnd(F.avg("lam"), 4).alias("dsir_logratio"),
        )
    )


_QC_B = 64  # hashed feature buckets (+1 bias term)
_QC_ITERS = 10
_QC_LR = 2.0
# Below this many docs the whole GD loop runs in ONE executor task (numpy)
# instead of 10 driver-collected aggregate jobs — the operators/graph.py
# SMALL_GRAPH_ROWS endgame applied to training. 200k×(65 doubles+id) ≈
# 110 MB in a single task, fine; at 100 TB doc counts the distributed
# 65-buffer aggregate loop below stays the path.
_QC_LOCAL_DOCS = 200_000


def _qc_oracle() -> str:
    """Batch gradient descent unrolled into chained CTEs — the kmeans
    oracle move applied to logistic regression. Identical feature
    construction (md5-bucket tf, l1-normalized, bias appended), identical
    update rule; per-position gradient sums can differ across engines by
    summation order at ~1e-16 per iteration, far below the 1e-4 output
    rounding (exp/σ amplify linearly, not chaotically, over 10 steps)."""
    sql = rf"""
WITH wbase AS (
    SELECT doc_id, source,
           {words_sql()} AS words
    FROM documents
), tf AS (
    SELECT doc_id, source,
           ('0x' || substr(md5(w), 1, 8))::BIGINT % {_QC_B} AS b,
           count(*)::DOUBLE AS c
    FROM (SELECT doc_id, source, unnest(words) AS w
          FROM wbase WHERE len(words) > 0)
    GROUP BY doc_id, source, b
), nw AS (
    SELECT doc_id, sum(c) AS n FROM tf GROUP BY doc_id
), dgrid AS (
    SELECT d.doc_id, t.i
    FROM (SELECT DISTINCT doc_id FROM tf) d, range(0, {_QC_B}) t(i)
), dense AS (
    SELECT g.doc_id, g.i, coalesce(tf.c, 0) / nw.n AS v
    FROM dgrid g JOIN nw USING (doc_id)
    LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.b = g.i
), fx AS MATERIALIZED (
    SELECT d.doc_id,
           list(d.v ORDER BY d.i) || [1.0] AS x,
           max(CASE WHEN s.source = 'src0' THEN 1.0 ELSE 0.0 END) AS y
    FROM dense d JOIN (SELECT DISTINCT doc_id, source FROM tf) s USING (doc_id)
    GROUP BY d.doc_id
), nn AS (SELECT count(*)::DOUBLE AS n FROM fx),
w0 AS (SELECT list_transform(range(0, {_QC_B + 1}), i -> 0.0) AS w)"""
    for t in range(1, _QC_ITERS + 1):
        sql += f"""
, s{t} AS (
    SELECT doc_id, x, y,
           1 / (1 + exp(-list_dot_product(x, w.w))) AS sig
    FROM fx CROSS JOIN w{t - 1} w
), g{t} AS (
    SELECT t.pos, sum(x[t.pos + 1] * (sig - y)) AS g
    FROM s{t}, range(0, {_QC_B + 1}) t(pos)
    GROUP BY t.pos
), w{t} AS MATERIALIZED (
    SELECT list(w.w[g.pos + 1] - {_QC_LR} * g.g / (SELECT n FROM nn)
                ORDER BY g.pos) AS w
    FROM g{t} g CROSS JOIN w{t - 1} w
)"""
    sql += f"""
SELECT fx.doc_id, CAST(fx.y AS INTEGER) AS label,
       round(1 / (1 + exp(-list_dot_product(fx.x, w.w))) + 1e-9, 4) AS prob,
       1 / (1 + exp(-list_dot_product(fx.x, w.w))) >= 0.5 AS pred
FROM fx CROSS JOIN w{_QC_ITERS} w
"""
    return sql


@query("quality_classifier", oracle=_qc_oracle())
def quality_classifier(spark, sf_dir):
    """A fastText-style quality classifier TRAINED INSIDE THE ENGINE:
    logistic regression over l1-normalized hashed-unigram counts (64 md5
    buckets + bias), labels = "does this doc come from the target feed"
    ('src0' as the high-quality proxy — the CCNet/GPT-3 quality-filter
    recipe), 10 steps of full-batch gradient descent, then every document
    scored with the final weights. Fully hash-checked: the oracle unrolls
    the SAME feature construction and the SAME GD recurrence into chained
    CTEs (the kmeans-oracle move — see _qc_oracle on float stability).

    Scale: the feature frame is built once (explode → (doc,bucket) count
    → dense 65-vector via map lookup) and checkpointed; each GD step is ONE
    job — a single global aggregate with 65 independent sum buffers
    (``sum(gx[i])``), so the gradient never materializes the ×65
    posexplode fan-out the first version paid (N×65 rows generated and
    hash-aggregated per step). At driver scales the two shapes measure
    at PARITY (~5 s in-bench at sf0.1, both — job launches dominate, and
    the 10× scaling ratio is unchanged at ~7×/10×); the win is the
    removed per-step row materialization, which matters when partitions
    carry millions of docs, not thousands. Hashes identical (re-verified
    sf0.001/sf0.01); only the 65-double weight vector ever reaches the
    driver (kmeans_fit's loop discipline). At 100 TB: 10 passes over a
    checkpointed narrow frame, one 65-buffer partial-agg row per partition,
    520-byte driver traffic per step. Scoring re-enters weights as a
    literal — zero exchanges, like jl_projection."""
    docs = (
        spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", "source", words_array("text").alias("words"))
        .where(F.size("words") > 0)
    )
    buckets = F.transform(
        "words", lambda w: F.pmod(md5_int32(w), F.lit(_QC_B)).cast("int")
    )
    tf = (
        docs.select("doc_id", "source", F.explode(buckets).alias("b"))
        .groupBy("doc_id", "source", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    m = F.map_from_entries(F.collect_list(F.struct("b", "c")))
    per_doc = tf.groupBy("doc_id", "source").agg(
        m.alias("m"), F.sum("c").alias("n")
    )
    x = F.concat(
        F.transform(
            F.sequence(F.lit(0), F.lit(_QC_B - 1)),
            lambda i: F.coalesce(F.element_at("m", i), F.lit(0.0)) / F.col("n"),
        ),
        F.array(F.lit(1.0)),
    )
    y = F.when(F.col("source") == "src0", 1.0).otherwise(0.0)
    feats = per_doc.select("doc_id", x.alias("x"), y.alias("y")).localCheckpoint(eager=False)
    n_docs = feats.count()

    if n_docs <= _QC_LOCAL_DOCS:
        # Local finish (r12): all 10 GD iterations + the final scoring in
        # ONE executor task over the checkpointed feature frame — numpy matvec
        # instead of 10 collect() jobs each paying scheduler latency and an
        # interpreted 65-element HOF transform per row (guide §2 job
        # overhead + §4 vectorize-in-native-code). Float parity: X@w and
        # X.T@(sig−y) reassociate the 65-term sums at ~1e-16 — the same
        # magnitude the oracle docstring already budgets for cross-engine
        # summation order, far below the 1e-4 output rounding. The output
        # columns (label cast, rounding, 0.5 threshold) stay the identical
        # Spark expressions as the distributed path.
        n_total = float(n_docs)

        def gd(batches):
            import numpy as np
            import pandas as pd

            ids, xs, ys = [], [], []
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids.append(pdf["doc_id"].to_numpy())
                xs.append(np.array(pdf["x"].tolist(), dtype=np.float64))
                ys.append(pdf["y"].to_numpy(dtype=np.float64))
            if not ids:
                return
            did = np.concatenate(ids)
            X = np.vstack(xs)
            yv = np.concatenate(ys)
            wv = np.zeros(X.shape[1])
            for _ in range(_QC_ITERS):
                sig = 1.0 / (1.0 + np.exp(-(X @ wv)))
                wv = wv - _QC_LR * (X.T @ (sig - yv)) / n_total
            s = 1.0 / (1.0 + np.exp(-(X @ wv)))
            yield pd.DataFrame({"doc_id": did, "y": yv, "s": s})

        scored = feats.coalesce(1).mapInPandas(
            gd, "doc_id long, y double, s double"
        )
        return scored.select(
            "doc_id",
            F.col("y").cast("int").alias("label"),
            rnd(F.col("s"), 4).alias("prob"),
            (F.col("s") >= 0.5).alias("pred"),
        )

    from mapreduce_model_spark.operators.similarity import dot

    # Measured alternative, REJECTED (round 9): chaining all 10 steps
    # lazily — weights as broadcast 1-row frames feeding the next step's
    # aggregate, one action total instead of 10 collect() jobs + a count
    # (the r8 verdict's "fewer/fused steps" ask). Interleaved A/B at
    # sf0.1, median-after-warmup: fused 20.0-47.1 s vs collected 6.5-7.3 s
    # — each action re-runs Catalyst analysis/optimization over the
    # 10-deep nested broadcast-aggregate tree (650 aggregate expressions),
    # and that re-planning dwarfs the 10 Python→JVM round trips it saves.
    # The collected loop's per-step cost is one 65-buffer aggregate job +
    # 520 B of driver traffic — already the scale-right shape.
    w = [0.0] * (_QC_B + 1)
    for _ in range(_QC_ITERS):
        wcol = F.lit(w).cast("array<double>")
        sig = 1 / (1 + F.exp(-dot(F.col("x"), wcol)))
        gx = F.transform(F.col("x"), lambda e: e * (sig - F.col("y")))
        row = (
            feats.select(gx.alias("gx"))
            .agg(
                *[
                    F.sum(F.element_at("gx", i + 1)).alias(f"g{i}")
                    for i in range(_QC_B + 1)
                ]
            )
            .collect()[0]
        )
        w = [w[i] - _QC_LR * row[f"g{i}"] / n_docs for i in range(_QC_B + 1)]

    wfin = F.lit(w).cast("array<double>")
    sig_fin = 1 / (1 + F.exp(-dot(F.col("x"), wfin)))
    return feats.select(
        "doc_id",
        F.col("y").cast("int").alias("label"),
        rnd(sig_fin, 4).alias("prob"),
        (sig_fin >= 0.5).alias("pred"),
    )


@query(
    "text_normalize",
    oracle=f"""
WITH norm AS (
    SELECT doc_id,
           lower(trim(regexp_replace(regexp_replace(text, '[^ -~]', '', 'g'),
                                     '{C_SPACE}+', ' ', 'g'))) AS norm
    FROM documents
)
SELECT doc_id,
       CAST(length(norm) AS BIGINT) AS n_norm_chars,
       md5(norm) AS norm_md5
FROM norm
""",
)
def text_normalize(spark, sf_dir):
    """Canonical text normalization — the pass that runs before ANY
    hashing/dedup so byte-level noise (control chars, non-ASCII
    artifacts, runs of whitespace, case) can't split otherwise-identical
    content into distinct hashes: strip non-printables, collapse
    whitespace, trim, casefold. Emitted as (length, md5) so the driver
    hash pins the exact cleaned string without hauling bodies through
    the compare.

    Scale: pure narrow regexp/casefold expressions fused into the parquet
    scan — zero exchanges, the same map-only contract as pii_scrub
    (plan-pinned)."""
    norm = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), "[^ -~]", ""), C_SPACE + "+", " "
            )
        )
    )
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.length(norm).cast("long").alias("n_norm_chars"),
        F.md5(norm).alias("norm_md5"),
    )


_BPE_STEPS = 10


def _bpe_chain(steps: int = _BPE_STEPS) -> str:
    """BPE training unrolled into chained MATERIALIZED CTEs: s{t} is the
    segmented word dictionary after t merges (carrying the word so the
    encode face can emit per-word segmentations), b{t} the t-th winning
    pair (count DESC, pair ASC — byte-wise ASCII tie-break, identical in
    both engines). Merging rewrites the space-joined symbol string wrapped
    in sentinel spaces, so a pair can only match on symbol boundaries and
    replacement is left-to-right non-overlapping in both engines. The ONE
    recurrence shared by the bpe_train and bpe_encode oracles."""
    sql = rf"""
WITH wbase AS (
    SELECT doc_id, source,
           {words_sql()} AS words
    FROM documents
), dic AS MATERIALIZED (
    SELECT w AS word, count(*)::BIGINT AS c
    FROM (SELECT unnest(words) AS w FROM wbase) GROUP BY w
), s0 AS MATERIALIZED (
    SELECT word, c, trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seg FROM dic
)"""
    for t in range(1, steps + 1):
        p = t - 1
        sql += f"""
, p{t} AS (
    SELECT pr, sum(c)::BIGINT AS cnt
    FROM (SELECT c, unnest(list_transform(range(1, len(arr)),
                                          i -> arr[i] || ' ' || arr[i + 1])) AS pr
          FROM (SELECT c, string_split(seg, ' ') AS arr FROM s{p})
          WHERE len(arr) >= 2)
    GROUP BY pr
), b{t} AS MATERIALIZED (
    SELECT pr, cnt FROM p{t} ORDER BY cnt DESC, pr LIMIT 1
), s{t} AS MATERIALIZED (
    SELECT word, c,
           trim(replace(' ' || seg || ' ',
                        ' ' || (SELECT pr FROM b{t}) || ' ',
                        ' ' || (SELECT replace(pr, ' ', '') FROM b{t}) || ' '))
               AS seg
    FROM s{p}
)"""
    return sql


def _bpe_oracle(steps: int = _BPE_STEPS) -> str:
    """Merge-table face of the shared recurrence."""
    sql = _bpe_chain(steps)
    selects = [
        f"SELECT CAST({t} AS BIGINT) AS step, pr AS pair, "
        f"replace(pr, ' ', '') AS merged, cnt FROM b{t}"
        for t in range(1, steps + 1)
    ]
    return sql + "\n" + "\nUNION ALL\n".join(selects)


# Below this many dictionary rows the whole greedy merge loop runs in ONE
# executor task (pure Python over the word-frequency dictionary) instead of
# `steps` rounds of tiny distributed explode/agg/argmax jobs — the
# operators/graph.py SMALL_GRAPH_ROWS endgame applied to tokenizer
# training. At 100 TB vocabularies (millions of rows) the distributed loop
# below stays the path.
_BPE_LOCAL_VOCAB = 200_000


def _bpe_local_fn(steps: int):
    """Single-task greedy BPE over the full dictionary — replays the
    distributed loop's decision sequence EXACTLY: pair counts are
    c-weighted sums over adjacent symbols of each seg; winner is
    (count DESC, pair ASC) with byte-wise ASCII tie-break (Python str
    comparison ≡ UTF8 binary for the [a-z]+ vocabulary); the rewrite is
    the same sentinel-space-wrapped LEFT-TO-RIGHT NON-OVERLAPPING
    replace (str.replace ≡ F.replace ≡ DuckDB replace — the shared-space
    subtlety between adjacent occurrences is load-bearing for parity, so
    symbols are rewritten through the string form, never a token list).
    Emits merge rows (word NULL) + final dictionary rows (step NULL) in
    one mixed frame; each query face filters its side."""

    def fn(batches):
        import pandas as pd

        words, cs, segs = [], [], []
        for pdf in batches:
            words.extend(pdf["word"].tolist())
            cs.extend(int(v) for v in pdf["c"].tolist())
            segs.extend(pdf["seg"].tolist())
        merges = []
        for step in range(1, steps + 1):
            cnt: dict = {}
            get = cnt.get
            for c, seg in zip(cs, segs):
                arr = seg.split(" ")
                for a, b in zip(arr, arr[1:]):
                    pr = a + " " + b
                    cnt[pr] = get(pr, 0) + c
            if not cnt:
                break
            pr, c_best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
            merged = pr.replace(" ", "")
            merges.append((step, pr, merged, c_best))
            tgt, rep = f" {pr} ", f" {merged} "
            segs = [
                (" " + s + " ").replace(tgt, rep).strip(" ")
                if tgt in (" " + s + " ")
                else s
                for s in segs
            ]
        if merges:
            yield pd.DataFrame(
                {
                    "step": [m[0] for m in merges],
                    "pair": [m[1] for m in merges],
                    "merged": [m[2] for m in merges],
                    "cnt": [m[3] for m in merges],
                    "word": [None] * len(merges),
                    "c": [None] * len(merges),
                    "seg": [None] * len(merges),
                }
            )
        yield pd.DataFrame(
            {
                "step": [None] * len(words),
                "pair": [None] * len(words),
                "merged": [None] * len(words),
                "cnt": [None] * len(words),
                "word": words,
                "c": cs,
                "seg": segs,
            }
        )

    return fn


def _bpe_run(spark, sf_dir, steps: int = _BPE_STEPS):
    """The shared greedy-BPE training loop: returns (merge-table frame,
    final segmented word dictionary frame). The dictionary frame carries
    the word so bpe_encode can emit per-word segmentations; bpe_train
    reads only the merge table. See bpe_train's docstring for the scale
    argument."""
    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id")
    dic = (
        docs.select(F.explode(words_array("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # LAZY checkpoints throughout the loop (r11): each step's argmax
    # collect is the action that materializes the previous rewrite, so a
    # step costs ONE job instead of two (measured 35 -> 24 jobs/run,
    # 2.9 -> 2.45 s at sf0.1, merge list bit-identical). Same fusion as
    # operators/graph.py's count-materializes-checkpoint pattern.
    cur = dic.select(
        "word",
        "c",
        F.trim(F.regexp_replace("word", "(.)", r"$1 ")).alias("seg"),
    ).localCheckpoint(eager=False)

    # Local finish (r12): the count materializes the checkpoint AND gates.
    # BPE trains on the word-frequency DICTIONARY (Zipf-bounded), so below
    # the gate ALL `steps` merge rounds run in one executor task instead of
    # `steps` × (pair-explode shuffle + argmax collect) jobs — at sf0.1 the
    # loop is pure scheduler latency (guide §2). Decision parity is
    # documented at _bpe_local_fn.
    if cur.count() <= _BPE_LOCAL_VOCAB:
        mixed = cur.coalesce(1).mapInPandas(
            _bpe_local_fn(steps),
            "step long, pair string, merged string, cnt long,"
            " word string, c long, seg string",
        )
        merges_df = mixed.where(F.col("step").isNotNull()).select(
            "step", "pair", "merged", "cnt"
        )
        cur_df = mixed.where(F.col("word").isNotNull()).select("word", "c", "seg")
        return merges_df, cur_df

    merges = []
    for step in range(1, steps + 1):
        arr = F.split("seg", " ")
        prs = F.when(
            F.size(arr) >= 2,
            F.zip_with(
                F.slice(arr, 1, F.size(arr) - 1),
                F.slice(arr, 2, F.size(arr) - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        best = (
            cur.select(F.explode(prs).alias("pr"), "c")
            .groupBy("pr")
            .agg(F.sum("c").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "pr")
            .limit(1)
            .collect()
        )
        if not best:
            break
        pr, cnt = best[0]["pr"], best[0]["cnt"]
        merged = pr.replace(" ", "")
        merges.append((step, pr, merged, int(cnt)))
        cur = cur.select(
            "word",
            "c",
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("seg"), F.lit(" ")),
                    F.lit(f" {pr} "),
                    F.lit(f" {merged} "),
                )
            ).alias("seg"),
        ).localCheckpoint(eager=False)
    merges_df = spark.createDataFrame(
        merges, "step bigint, pair string, merged string, cnt bigint"
    )
    return merges_df, cur


@query("bpe_train", oracle=_bpe_oracle())
def bpe_train(spark, sf_dir):
    """FULL BPE tokenizer training in-engine — not one step
    (bpe_merge_candidates) but the whole greedy loop: 10 merges, each
    picking the corpus-wide most frequent adjacent symbol pair (count
    DESC, pair ASC tie-break) and rewriting every affected dictionary
    entry. Output is the merge TABLE — the trained tokenizer itself, the
    artifact you'd ship to the training run. Hash-checked end to end
    against an unrolled chained-CTE oracle (the kmeans/GD-oracle move
    applied to tokenizer training).

    Scale — the part people get wrong: BPE trains on the WORD-FREQUENCY
    DICTIONARY, not on the corpus. The one corpus-sized pass is the word
    count (explode → partial-agg count, exchange carries the vocabulary);
    everything after — pair counting, argmax, merge rewrite — runs on the
    |vocab|-row dictionary (Zipf: millions of rows at 100 TB, one
    executor's worth), localCheckpoint-ed per step to cut lineage, with
    only the 1-row winning pair ever reaching the driver. Symbol strings
    are wrapped in sentinel spaces so merges can't cross symbol
    boundaries; no end-of-word marker (the synthetic corpus has no
    morphology worth separating — noted deviation from the GPT-2
    recipe)."""
    merges, _ = _bpe_run(spark, sf_dir)
    return merges


def _bpe_encode_oracle(steps: int = _BPE_STEPS) -> str:
    """Segmented-dictionary face of the shared recurrence."""
    return _bpe_chain(steps) + f"""
SELECT word, seg,
       CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_tokens,
       c
FROM s{steps}
"""


@query("bpe_encode", oracle=_bpe_encode_oracle())
def bpe_encode(spark, sf_dir):
    """ENCODE under the trained tokenizer: the per-word segmentation after
    bpe_train's 10 merges — (word, space-joined subword symbols, token
    count, corpus frequency). This is the artifact a training pipeline
    actually applies to text: documents tokenize by dictionary lookup
    (join words to this table), never by re-running the merge fold per
    occurrence. Hash-checked end to end: the oracle is the SAME unrolled
    chained-CTE recurrence as bpe_train's (one source of truth,
    _bpe_chain), read at its final segmented-dictionary state instead of
    at the winning pairs.

    Scale: identical to bpe_train — one corpus-sized word-count pass,
    then every merge rewrite runs on the |vocab|-row dictionary; the
    output is vocabulary-sized and (Zipf) joins back to the corpus as a
    broadcast or a word-keyed shuffle, both standard."""
    _, cur = _bpe_run(spark, sf_dir)
    return cur.select(
        "word",
        "seg",
        F.size(F.split("seg", " ")).cast("long").alias("n_tokens"),
        "c",
    )


def _fertility_oracle(steps: int = _BPE_STEPS) -> str:
    """Per-source corpus-statistics face of the shared recurrence. Every
    float is a single division of exact BIGINT sums — bit-identical in
    both engines by construction."""
    return _bpe_chain(steps) + f"""
, swc AS (
    SELECT source, w AS word, count(*)::BIGINT AS n
    FROM (SELECT source, unnest(words) AS w FROM wbase)
    GROUP BY source, w
)
SELECT source,
       sum(n) AS n_words,
       sum(n * len(string_split(s.seg, ' '))) AS n_tokens,
       round(sum(n * len(string_split(s.seg, ' ')))::DOUBLE / sum(n) + 1e-9, 4)
           AS fertility,
       round(sum(n * length(s.word))::DOUBLE
             / sum(n * len(string_split(s.seg, ' '))) + 1e-9, 4)
           AS chars_per_token
FROM swc JOIN s{steps} s USING (word)
GROUP BY source
"""


@query("tokenizer_fertility", oracle=_fertility_oracle())
def tokenizer_fertility(spark, sf_dir):
    """Tokenizer quality report under the trained BPE merges — per
    source: token-per-word fertility and chars-per-token compression, the
    two numbers a tokenizer review actually reads (high fertility on a
    domain ⇒ the vocab underserves it ⇒ training/inference cost inflates
    there). Closes the tokenizer loop: bpe_train (merge table) →
    bpe_encode (segmented dictionary) → fertility (corpus-wide effect).
    Hash-checked via the same _bpe_chain recurrence.

    Scale: one corpus pass builds the (source, word) count frame; the
    dictionary join is word-keyed (the vocabulary is NOT broadcastable at
    100 TB — shuffle join on the word is the standard shape, same as
    bigram_pmi); every sum is an exact BIGINT so the final divisions are
    bit-identical across engines."""
    _, cur = _bpe_run(spark, sf_dir)
    dic = cur.select(
        "word",
        F.size(F.split("seg", " ")).cast("long").alias("nt"),
        F.length("word").cast("long").alias("nc"),
    )
    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id")
    swc = (
        docs.select("source", F.explode(words_array("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    j = swc.join(dic, "word")
    tokens = F.sum(F.col("n") * F.col("nt"))
    return j.groupBy("source").agg(
        F.sum("n").alias("n_words"),
        tokens.alias("n_tokens"),
        rnd(tokens.cast("double") / F.sum("n"), 4).alias("fertility"),
        rnd(
            F.sum(F.col("n") * F.col("nc")).cast("double") / tokens, 4
        ).alias("chars_per_token"),
    )


_LEX_NQ, _LEX_TOPK = 10, 5


@query(
    "lexical_topk",
    oracle=rf"""
WITH wbase AS (
    SELECT doc_id,
           {words_sql()} AS words
    FROM documents
), tf AS (
    SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS x,
           count(*)::BIGINT AS tf
    FROM (SELECT doc_id, unnest(words) AS w FROM wbase)
    GROUP BY doc_id, x
), nrm AS (
    SELECT doc_id, sqrt(sum(tf * tf)::DOUBLE) AS nrm FROM tf GROUP BY doc_id
), qtf AS (
    SELECT doc_id AS query_id, x, tf AS qtf FROM tf WHERE doc_id < {_LEX_NQ}
), dots AS (
    SELECT q.query_id, c.doc_id, sum(q.qtf * c.tf)::DOUBLE AS dot
    FROM qtf q JOIN tf c USING (x)
    WHERE c.doc_id <> q.query_id
    GROUP BY q.query_id, c.doc_id
), scored AS (
    SELECT d.query_id, d.doc_id,
           d.dot / (nq.nrm * nc.nrm) AS cosine
    FROM dots d
    JOIN nrm nq ON nq.doc_id = d.query_id
    JOIN nrm nc ON nc.doc_id = d.doc_id
)
SELECT query_id, doc_id, round(cosine + 1e-9, 4) AS cosine, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, doc_id) AS rank
      FROM scored)
WHERE rank <= {_LEX_TOPK}
""",
)
def lexical_topk(spark, sf_dir):
    """Lexical nearest documents — term-frequency cosine top-5 for each
    of the 10 lowest-id docs: the "more-like-this" retrieval primitive
    over the word space (the lexical complement of similarity_topk's
    embedding cosine; catches overlap an out-of-domain encoder misses).
    Hash-checked INCLUDING the ranking: every ranking input derives from
    exact integers (tf dot products and squared norms), so sqrt/divide
    produce bit-identical doubles in both engines (IEEE-exact ops on
    identical operands) — no float ever differs across engines before
    the rounded output. idf-weighting is deliberately absent from the
    ranking: ln() is the one op libms may round differently (noted in
    FIXTURES.md spirit), and this corpus's 31-word vocabulary makes tf
    patterns, not rarity, the signal.

    Scale: the query docs' term rows broadcast (|Q|·|vocab| rows); the
    corpus term frame is scanned once through a broadcast join — the
    corpus never shuffles on the (hot, 31-key) word dimension; dots and
    norms are map-side-combining aggregates keyed by (query, doc) and
    doc; the final top-k window is query-keyed."""
    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id")
    tf = (
        docs.select("doc_id", F.explode(words_array("text")).alias("w"))
        .select("doc_id", md5_int32(F.col("w")).alias("x"))
        .groupBy("doc_id", "x")
        .agg(F.count(F.lit(1)).alias("tf"))
        # three consumers: norms, the query slice, the corpus side of the
        # dot join — checkpoint or the corpus re-tokenizes per branch
        .localCheckpoint(eager=False)
    )
    nrm = tf.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("nrm")
    )
    qtf = tf.filter(F.col("doc_id") < _LEX_NQ).select(
        F.col("doc_id").alias("query_id"), "x", F.col("tf").alias("qtf")
    )
    dots = (
        F.broadcast(qtf)
        .join(tf, "x")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("qtf") * F.col("tf")).cast("double").alias("dot"))
    )
    nq = nrm.select(F.col("doc_id").alias("query_id"), F.col("nrm").alias("nrm_q"))
    nc = nrm.select("doc_id", F.col("nrm").alias("nrm_c"))
    scored = (
        dots.join(F.broadcast(nq), "query_id")
        .join(nc, "doc_id")
        .select(
            "query_id",
            "doc_id",
            (F.col("dot") / (F.col("nrm_q") * F.col("nrm_c"))).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _LEX_TOPK)
        .select(
            "query_id",
            "doc_id",
            rnd(F.col("cosine"), 4).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )
