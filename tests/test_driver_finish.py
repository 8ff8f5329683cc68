"""The one driver-finish gate, ``bdq_spark.session.collect_for_driver``,
on the frame each of the four small-input finishes hands it."""

import pytest
from pyspark.sql import functions as F

from bdq_spark.operators import clustering, components, dedup, tokenizer
from bdq_spark.session import collect_for_driver, private_session, rebind


def _docs(spark):
    return spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z")], "doc_id long, text string"
    )


#: each finish: the module it looks the gate up in, and a small call
FINISHES = {
    "components": (components, lambda spark: components.connected_components(
        spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    )),
    "kmeans": (clustering, lambda spark: clustering.kmeans_fit_quantized(
        spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [1.0, 1.0])], "vec_id long, embedding array<double>"
        ), k=2, iters=1, dim=2,
    )),
    "jaccard": (dedup, lambda spark: dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.5)),
    "bpe": (tokenizer, lambda spark: tokenizer.train_bpe(_docs(spark), n_merges=2)),
}


@pytest.mark.parametrize("finish", sorted(FINISHES))
def test_driver_finish_gate(spark, monkeypatch, finish):
    """The gate collects a finish's input at exactly ``threshold //
    row_bytes`` rows and declines it one row over that cap, over
    ``max_rows``, with broadcasts disabled, with an ordered column of a
    type outside ``DRIVER_ORDERED_TYPES``, and with a null in any
    column."""
    module, run = FINISHES[finish]
    seen = []

    def spy(df, ordered, row_bytes=None, max_rows=None):
        seen.append((df, ordered, row_bytes))
        return collect_for_driver(df, ordered, row_bytes, max_rows)

    monkeypatch.setattr(module, "collect_for_driver", spy)
    run(spark)
    (df, ordered, row_bytes), = seen
    n = df.count()
    width = row_bytes or df._jdf.schema().defaultSize()

    def gate(frame, threshold=n * width, max_rows=None):
        session = private_session(
            spark, {"spark.sql.autoBroadcastJoinThreshold": str(threshold)}
        )
        return collect_for_driver(rebind(frame, session), ordered, row_bytes, max_rows)

    assert gate(df).num_rows == n
    assert gate(df, threshold=n * width - 1) is None
    assert gate(df, max_rows=n - 1) is None
    assert gate(df, threshold=-1) is None
    assert gate(df.withColumn(ordered[0], F.array(ordered[0]))) is None
    for column in df.columns:
        null = df.limit(1).withColumn(
            column, F.lit(None).cast(df.schema[column].dataType)
        )
        assert gate(df.union(null), threshold=(n + 1) * width) is None
