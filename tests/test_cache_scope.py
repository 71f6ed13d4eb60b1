"""Persisted intermediates must be releasable: after running the persisting
queries and calling release_persisted(), no cached RDD blocks remain.

Round-1 review finding: minhash_lsh_pairs, ngram_jaccard_pairs and
ann_lsh_topk persisted without unpersist, so a long-lived session invoking
many queries accumulated MEMORY_AND_DISK blocks unboundedly.
"""

from __future__ import annotations

from ai_metadata_lineage_pyspark_spark.functions.cache import release_persisted
from ai_metadata_lineage_pyspark_spark.registry import all_queries

_PERSISTING = ["minhash_lsh_pairs", "ngram_jaccard_pairs", "ann_lsh_topk"]


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_no_cached_rdds_after_release(spark, sf_dir):
    # baseline-relative: localCheckpoint blocks from earlier tests (graph
    # BFS) also count as persistent RDDs and are not ours to release
    release_persisted()
    baseline = _n_cached(spark)
    queries = all_queries()
    for name in _PERSISTING:
        df = queries[name].fn(spark, sf_dir)
        assert df.count() >= 0
        # each persisting query releases its predecessor's caches on entry,
        # so concurrent accumulation is bounded by one query's intermediates
        assert _n_cached(spark) <= baseline + 2
    release_persisted()
    # <= not ==: the async ContextCleaner may concurrently drop out-of-scope
    # localCheckpoint blocks from earlier tests, legitimately lowering the
    # count below the baseline; a leak can only push it ABOVE
    assert _n_cached(spark) <= baseline


def test_release_is_idempotent(spark):
    before = _n_cached(spark)
    release_persisted()
    release_persisted()
    assert _n_cached(spark) <= before


def test_components_memo_shared_within_scope(spark, sf_dir):
    # neardup_components memoizes its result per (applicationId, sf_dir) so
    # neardup_canonical_pick reuses the SAME subgraph instead of re-running
    # the MinHash pipeline (round-5 verdict item); release_persisted() must
    # invalidate the memo so bench steady runs re-price the full pipeline
    from ai_metadata_lineage_pyspark_spark.functions.cache import memo_get
    from ai_metadata_lineage_pyspark_spark.operators import dedup

    release_persisted()
    # the memo stores the RAW labels table (r8: the size join moved out so
    # canonical_pick's plan no longer pays a shuffle+join it discards)
    key = ("neardup_labels", spark.sparkContext.applicationId, sf_dir)
    assert memo_get(key) is None
    first_labels = dedup._neardup_labels(spark, sf_dir)
    assert memo_get(key) is first_labels
    # same object back on a second call in the same scope — no rebuild
    assert dedup._neardup_labels(spark, sf_dir) is first_labels
    first = dedup.neardup_components(spark, sf_dir)
    # canonical_pick consumes the memoized frame and agrees with it
    comps = {(r.doc_id, r.component_id) for r in first.collect()}
    picks = dedup.neardup_canonical_pick(spark, sf_dir).collect()
    comp_ids = {c for _, c in comps}
    assert {p.component_id for p in picks} == comp_ids
    release_persisted()
    assert memo_get(key) is None


def test_fitted_model_memo_survives_release_persisted(spark, sf_dir):
    # r7 verdict: bpe_apply_encode re-ran the full 6-round trainer every
    # execution. The fitted merge table now lives in the MODEL memo tier:
    # materialized driver-side literal rows (zero executor storage), so
    # release_persisted() leaves it alone and only release_models() drops it.
    from ai_metadata_lineage_pyspark_spark.functions.cache import (
        model_memo_get,
        release_models,
    )
    from ai_metadata_lineage_pyspark_spark.operators.search import (
        _fitted_bpe_merges,
        bpe_train_merges,
    )

    release_models()
    key = ("bpe_merges", spark.sparkContext.applicationId, sf_dir)
    assert model_memo_get(key) is None
    fitted = _fitted_bpe_merges(spark, sf_dir)
    assert model_memo_get(key) is fitted
    # the memoized artifact is literal rows identical to a fresh fit
    assert sorted(map(tuple, fitted.collect())) == sorted(
        map(tuple, bpe_train_merges(spark, sf_dir).collect())
    )
    # survives the per-query persist release (it holds no executor blocks)
    release_persisted()
    assert model_memo_get(key) is fitted
    assert _fitted_bpe_merges(spark, sf_dir) is fitted
    # explicit model release ends the scope
    release_models()
    assert model_memo_get(key) is None
    release_persisted()


def test_bpe_fit_preserves_cross_query_memo(spark, sf_dir):
    # r9 advice: _fitted_bpe_merges used a blanket release_persisted() after
    # collecting the trainer output, which also cleared the _MEMO tier —
    # a bpe fit running between two consumers of the memoized neardup labels
    # silently forced a full MinHash->LSH->label-prop recompute. The fit now
    # persists nothing and releases nothing.
    from ai_metadata_lineage_pyspark_spark.functions.cache import (
        memo_get,
        release_models,
    )
    from ai_metadata_lineage_pyspark_spark.operators import dedup
    from ai_metadata_lineage_pyspark_spark.operators.search import (
        _fitted_bpe_merges,
    )

    release_persisted()
    release_models()
    labels_key = ("neardup_labels", spark.sparkContext.applicationId, sf_dir)
    labels = dedup._neardup_labels(spark, sf_dir)
    assert memo_get(labels_key) is labels
    # a model fit in between must not drop the memo (or its persists)
    _fitted_bpe_merges(spark, sf_dir)
    assert memo_get(labels_key) is labels
    assert dedup._neardup_labels(spark, sf_dir) is labels
    release_persisted()
    release_models()
    assert memo_get(labels_key) is None
