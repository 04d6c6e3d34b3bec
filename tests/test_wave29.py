"""Wave-29 (round 13, optimization): process-scoped memoization of
the IVF family's deterministic coordinator work (round-12 verdict
item 1). Lloyd training is a pure function of (data fingerprint,
seed ids, iteration count), yet every IVF-family build re-trained —
and the scoreboard's four IVF arms re-trained the identical coarse
book 3× over (measured: 24.9 s of build for one scoreboard
construction at sf0.1 split layout). _coord_memo collapses that to
once per process; outputs cannot change because the memoized values
are the deterministic inputs the plans embed as literals. (Round 14,
r13 verdict item 4: censuses are no longer memoized — the memo holds
trained-model parameters only; see tests/test_wave31.)

Pins here:
- the no-redundant-training budget (verdict item 6): one scoreboard
  build performs each distinct coordinator computation EXACTLY once,
  and exactly ONE coarse-book training total;
- memo-hit ≡ memo-miss: a rebuilt stack on a warm memo emits
  byte-identical rows to the cold build."""

from __future__ import annotations

import os

import pytest

from ingestor_etl_spark.plans.layout import release_caches
from ingestor_etl_spark.queries import load_all
from ingestor_etl_spark.queries import vector_ops as vo

SF001 = "/root/testdata/sf0.01"


def _reset_memo():
    vo._COORD_MEMO.clear()
    vo._COORD_STATS["hits"] = 0
    vo._COORD_STATS["misses"] = 0


@pytest.mark.slow
def test_scoreboard_coordinator_budget(spark):
    """Building the 7-arm scoreboard must not repeat coordinator
    work: every distinct (kind, dir, seeds, iters) key is computed
    once (misses == stored keys), the shared coarse book is trained
    exactly once across all IVF arms, and a second scoreboard build
    adds ZERO coordinator jobs. Removing the memoization fails this
    immediately (the three IVF stacks would each re-train)."""
    reg = load_all()
    _reset_memo()
    reg["ann_quality_scoreboard"].fn(spark, SF001)
    misses = vo._COORD_STATS["misses"]
    assert misses == len(vo._COORD_MEMO), vo._COORD_STATS
    book_keys = [k for k in vo._COORD_MEMO if k[0] == "ivf_book"]
    assert len(book_keys) == 1, book_keys
    # warm rebuild: all hits, no new coordinator work
    reg["ann_quality_scoreboard"].fn(spark, SF001)
    assert vo._COORD_STATS["misses"] == misses, vo._COORD_STATS
    release_caches()


@pytest.mark.slow
def test_memo_hit_equals_memo_miss(spark):
    """The memo can only return what the thunk would have computed:
    a stack built on a warm memo must emit byte-identical rows to
    the cold build."""
    reg = load_all()
    for name in ("ann_ivf_pq", "ann_ivf_pq_residual", "ann_ivf_hamming"):
        _reset_memo()
        cold = [tuple(r) for r in reg[name].fn(spark, SF001).collect()]
        release_caches()
        assert vo._COORD_STATS["misses"] > 0
        warm_stats_before = vo._COORD_STATS["misses"]
        warm = [tuple(r) for r in reg[name].fn(spark, SF001).collect()]
        release_caches()
        assert vo._COORD_STATS["misses"] == warm_stats_before, name
        assert cold == warm, name


_IVF_FAMILY = (
    "ann_ivf_pq",
    "ann_ivf_pq_residual",
    "ann_ivf_hamming",
    "pq_distortion_eval",
    "ivf_nprobe_whatif",
    "ivf_balance_profile",
)


def test_ivf_family_shares_trained_books(spark, sf_dir):
    """Default-path twin of the scoreboard budget, over the six
    IVF-family builders at identity geometry: one coarse book for
    all of them, every stored key computed exactly once, and
    pq_distortion_eval's trained book is the very pq_raw_books entry
    ann_ivf_pq stored (it only adds its iteration-0 seed book)."""
    reg = load_all()
    _reset_memo()
    reg["ann_ivf_pq"].fn(spark, sf_dir)
    raw = [k for k in vo._COORD_MEMO if k[0] == "pq_raw_books"]
    assert len(raw) == 1 and raw[0][-1] == vo.PQ_ITERS, raw
    for name in _IVF_FAMILY[1:]:
        before = set(vo._COORD_MEMO)
        hits = vo._COORD_STATS["hits"]
        reg[name].fn(spark, sf_dir)
        release_caches()
        if name == "pq_distortion_eval":
            assert vo._COORD_STATS["hits"] == hits + 1, vo._COORD_STATS
            assert set(vo._COORD_MEMO) - before == {(*raw[0][:-1], 0)}
    release_caches()
    book_keys = [k for k in vo._COORD_MEMO if k[0] == "ivf_book"]
    assert len(book_keys) == 1, book_keys
    assert vo._COORD_STATS["misses"] == len(vo._COORD_MEMO), vo._COORD_STATS


@pytest.fixture(scope="module")
def gapped_dir(spark, tmp_path_factory):
    """sf0.001 embeddings without vec_id 150, one of CENTROID_IDS."""
    d = str(tmp_path_factory.mktemp("gapped"))
    src = os.path.join(os.path.dirname(SF001), "sf0.001", "embeddings.parquet")
    spark.read.parquet(src).where("vec_id <> 150").write.parquet(
        f"{d}/embeddings.parquet"
    )
    return d


@pytest.mark.parametrize("name", ["ivf_balance_profile", "ann_ivf_pq"])
def test_missing_seed_row_raises(spark, gapped_dir, name):
    """A corpus missing a requested seed row must fail loudly, not
    train a smaller coarse book — also under ``python -O``, and also
    for the builders that always seed from CENTROID_IDS."""
    reg = load_all()
    try:
        with pytest.raises(ValueError, match="seed filter matched"):
            reg[name].fn(spark, gapped_dir)
    finally:
        release_caches()
