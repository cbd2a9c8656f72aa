"""Cross-query memo checkpoints (r11): the persisted-index pattern's
correctness contract — a memoized frame must be (a) result-identical to
the pure build, (b) reused within a (session, corpus snapshot) key,
(c) invalidated when the corpus file changes, (d) bypassed entirely
when io.MEMO_ENABLED is False (the plan-audit escape hatch), and (e) for
every memo user, freed on eviction: the blocks its entry owns leave the
JVM's persistent-RDD registry."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

import etl_financial_report_spark.io as IO
from etl_financial_report_spark.io import load_table
from etl_financial_report_spark.operators import dedup as D
from etl_financial_report_spark.operators import quality as Q
from etl_financial_report_spark.operators import similarity as S
from etl_financial_report_spark.operators import unigram as U

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_memoized_equals_pure_build(spark):
    from etl_financial_report_spark.operators.dedup import (
        _minhash_signature,
        _minhash_signature_of,
    )

    pure = _rows(_minhash_signature_of(load_table(spark, SF, "documents")))
    memo1 = _minhash_signature(spark, SF)
    memo2 = _minhash_signature(spark, SF)
    assert _rows(memo1) == pure
    # same key -> the SAME materialized frame object is returned
    assert memo1 is memo2


def test_memo_disabled_bypasses_cache(spark):
    from etl_financial_report_spark.operators.dedup import _minhash_signature

    warm = _minhash_signature(spark, SF)
    old = IO.MEMO_ENABLED
    IO.MEMO_ENABLED = False
    try:
        cold = _minhash_signature(spark, SF)
        assert cold is not warm  # pure build, not the cached checkpoint
        assert _rows(cold) == _rows(warm)
    finally:
        IO.MEMO_ENABLED = old


def test_memo_invalidates_on_corpus_change(spark, tmp_path):
    from etl_financial_report_spark.operators.dedup import _minhash_signature

    root = str(tmp_path)
    src = load_table(spark, SF, "documents").where(F.col("doc_id") < 50)
    src.coalesce(1).write.parquet(f"{root}/documents.parquet")
    first = _minhash_signature(spark, root)
    n_first = first.count()

    shutil.rmtree(f"{root}/documents.parquet")
    src2 = load_table(spark, SF, "documents").where(F.col("doc_id") < 20)
    src2.coalesce(1).write.parquet(f"{root}/documents.parquet")
    # parquet dir mtime changed -> new key -> fresh build over new data
    os.utime(f"{root}/documents.parquet")
    second = _minhash_signature(spark, root)
    assert second.count() == 20
    assert n_first == 50


def test_memo_invalidates_without_mtime_change(spark, tmp_path):
    """ADVICE r11: the memo key is a CONTENT fingerprint (file names,
    sizes, footer row counts), so a corpus rewritten at the same path is
    a miss even when the filesystem mtime does not move — no os.utime
    crutch needed."""
    from etl_financial_report_spark.operators.dedup import _minhash_signature

    root = str(tmp_path)
    path = f"{root}/documents.parquet"
    src = load_table(spark, SF, "documents").where(F.col("doc_id") < 50)
    src.coalesce(1).write.parquet(path)
    # freeze every file's mtime to a fixed instant
    fixed = 1_500_000_000
    for base, _dirs, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(base, f), (fixed, fixed))
    os.utime(path, (fixed, fixed))
    assert _minhash_signature(spark, root).count() == 50

    shutil.rmtree(path)
    src2 = load_table(spark, SF, "documents").where(F.col("doc_id") < 20)
    src2.coalesce(1).write.parquet(path)
    for base, _dirs, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(base, f), (fixed, fixed))
    os.utime(path, (fixed, fixed))
    # same path, same pinned mtimes — sizes/row counts differ -> rebuild
    assert _minhash_signature(spark, root).count() == 20


def test_memo_eviction_unpersists_checkpoint_blocks(spark, tmp_path):
    """ADVICE r11: FIFO eviction must FREE the evicted frame's
    checkpoint blocks (rdd unpersist), not just drop the dict
    reference — verified against the JVM's persistent-RDD registry."""
    from etl_financial_report_spark.io import _persistent_rdd_ids, unpersist_tracked

    df = load_table(spark, SF, "documents").where(F.col("doc_id") < 5)
    before = _persistent_rdd_ids(spark)
    ck = df.localCheckpoint()
    ids = _persistent_rdd_ids(spark) - before
    assert ids, "localCheckpoint should pin at least one RDD"
    assert ck.count() == 5
    unpersist_tracked(spark, ids)
    assert not (ids & _persistent_rdd_ids(spark))


#: every session-memo user: (the tag of the entry it builds, the call).
#: LSH pairs nest the signature entry, the residual index nests the IVF
#: centroids and the QC sweep sits on the memoized scored margins.
MEMO_USERS = {
    "memo_checkpoint": ("minhash_lsh_pairs", D.dedup_minhash_lsh_pairs),
    "memo_checkpoint_rowwise": ("minhash_signature", D._minhash_signature),
    "ivf_cents": ("ivf_cents", S._ivf_cents),
    "pq_train": ("pq_train", S._pq_train),
    "residual_index": ("residual_index", S._residual_index),
    "unigram_trained": ("unigram_trained", U.unigram_corpus_trained),
    "qc_bars": ("qc_bars", Q.text_quality_threshold_sweep),
}


@pytest.mark.parametrize("user", list(MEMO_USERS))
def test_memo_frames_cap_evicts_and_frees(spark, user):
    """Every memo user's entry owns the blocks its build pinned — none
    that a nested entry owns — and FIFO eviction past the cap frees
    them (store disabled so the localCheckpoint path, the one that pins
    blocks, is the one under test; disk-backed entries pin nothing)."""
    tag, call = MEMO_USERS[user]
    filler = load_table(spark, SF, "documents").where(F.col("doc_id") < 3)
    old_max = IO._MEMO_FRAMES_MAX
    old_store = IO.INDEX_STORE_ENABLED
    IO.INDEX_STORE_ENABLED = False
    saved = dict(IO._MEMO_FRAMES)
    IO._MEMO_FRAMES.clear()
    IO._MEMO_FRAMES_MAX = 6  # keeps every nested entry resident
    try:
        call(spark, SF)
        [key] = [k for k in IO._MEMO_FRAMES if k[3] == tag]
        ids = IO._MEMO_FRAMES[key][1]
        assert ids and ids <= IO._persistent_rdd_ids(spark)
        owned = [v[1] for v in IO._MEMO_FRAMES.values()]
        assert sum(map(len, owned)) == len(frozenset().union(*owned))
        for n in range(IO._MEMO_FRAMES_MAX):
            if key not in IO._MEMO_FRAMES:
                break
            IO.memo_checkpoint(
                spark, SF, "documents", f"filler{n}", lambda: filler.select("doc_id")
            )
        assert key not in IO._MEMO_FRAMES
        assert not (ids & IO._persistent_rdd_ids(spark))
    finally:
        IO._MEMO_FRAMES_MAX = old_max
        IO.INDEX_STORE_ENABLED = old_store
        IO._MEMO_FRAMES.clear()
        IO._MEMO_FRAMES.update(saved)
