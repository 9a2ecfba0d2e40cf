"""The session's materialization scope (cola_spark.session): a memo entry
follows an overwritten input, and one-shot calls leave no persisted
frame behind."""

import pytest

from cola_spark.flagship import flagship
from cola_spark.operators.similarity import ivf_cells
from cola_spark.operators.textdedup import minhash_dedup_pairs
from cola_spark.queries import shared_prefix_pairs

PAIRED_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "an entirely unrelated sentence about spark jobs"),
]
UNPAIRED_DOCS = [
    (1, "alpha beta gamma delta epsilon"),
    (2, "zeta eta theta iota kappa"),
    (3, "lambda mu nu xi omicron"),
]


def _prefix_pairs(spark, sf):
    return sorted(tuple(r) for r in shared_prefix_pairs(spark, sf).collect())


def _write_docs(spark, sf, rows):
    spark.createDataFrame(rows, "doc_id long, text string").write.mode("overwrite").parquet(
        f"{sf}/documents.parquet"
    )


def _ivf(spark, sf):
    corpus = spark.read.parquet(f"{sf}/embeddings.parquet")
    return sorted((r.cent_id, tuple(r.ce)) for r in ivf_cells(corpus, n_cells=2, train_iters=1).collect())


def _write_vecs(spark, sf, scale):
    rows = [(i, [float(scale * v) for v in vec]) for i, vec in enumerate([(1, 0), (0, 1), (1, 1), (-1, 2)])]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.mode("overwrite").parquet(
        f"{sf}/embeddings.parquet"
    )


@pytest.mark.parametrize(
    "call,write",
    [
        (_prefix_pairs, lambda spark, sf, first: _write_docs(spark, sf, PAIRED_DOCS if first else UNPAIRED_DOCS)),
        (_ivf, lambda spark, sf, first: _write_vecs(spark, sf, 1 if first else 3)),
    ],
    ids=["shared_prefix_pairs", "trained_ivf"],
)
def test_memo_misses_after_input_overwrite(spark, tmp_path, call, write):
    """Overwriting an input under the same path keeps its plan hash, so
    only the file listing in the memo key tells the new rows apart: the
    second call must equal a cold call in a fresh session."""
    sf = str(tmp_path)
    write(spark, sf, True)
    first = call(spark, sf)
    write(spark, sf, False)
    again = call(spark, sf)
    assert again == call(spark.newSession(), sf)
    assert again != first


def test_one_shot_calls_leave_nothing_persisted(spark, named_rdds):
    """minhash_dedup_pairs and flagship return materialized results and
    free every frame they persisted."""
    before = named_rdds()
    docs = spark.createDataFrame(PAIRED_DOCS, "doc_id long, text string")
    assert minhash_dedup_pairs(docs).count() == 1
    assert flagship(spark, "/root/testdata/sf0.001").count() > 0
    assert named_rdds() - before == set()
