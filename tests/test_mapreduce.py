"""The MapReduce compatibility layer (the reference's mapper/reducer
contract, A20) must count the same words as the DataFrame engine."""

from pyspark.sql import functions as F

from mapreduce_model_spark.mapreduce import map_reduce
from mapreduce_model_spark.registry import table


def test_map_reduce_wordcount_with_and_without_combiner(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").limit(100)

    def mapper(row):
        return [(w, 1) for w in row.text.split()]

    with_comb = dict(
        map_reduce(docs, mapper, lambda k, vs: sum(vs), combine_fn=lambda a, b: a + b)
        .collect()
    )
    without = dict(map_reduce(docs, mapper, lambda k, vs: sum(vs)).collect())
    assert with_comb == without

    # cross-check one token against the declarative engine
    tok = (
        docs.select(F.explode(F.split("text", r"\s+")).alias("t"))
        .filter(F.length("t") > 0)
        .groupBy("t")
        .count()
        .collect()
    )
    declarative = {r.t: r["count"] for r in tok}
    shared = set(declarative) & set(with_comb)
    assert shared
    for t in list(shared)[:50]:
        assert with_comb[t] == declarative[t], t
