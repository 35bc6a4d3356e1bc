"""Prefetched merge-probe statistics (engine._prefetch_probe_stats +
IceboxTable.merge(probe_stats=...)): the one-pass batch-plan prefetch must
be observationally identical to the per-batch probe jobs it replaces, and
the merge must IGNORE prefetched stats whenever its validity guard says
they may be stale (changed bucket layout, advanced fence)."""

from __future__ import annotations

import os

from sparkcdc.changelog import generate_changelog, write_log_parquet
from sparkcdc.config import JobConfig
from sparkcdc.engine import CDCEngine
from sparkcdc.icebox import IceboxTable


def _write_wal(spark, path, **kw):
    write_log_parquet(
        generate_changelog(spark, 12_000, 600, **kw), path, partitions=4
    )


def _run(spark, wal, tbl, *, disable_prefetch=False, **cfg_kw):
    cfg = JobConfig(
        log_path=wal, table_path=tbl, batch_size=3_500, n_buckets=8, **cfg_kw
    )
    eng = CDCEngine(spark, cfg)
    if disable_prefetch:
        eng._prefetch_probe_stats = lambda plan: {}
    eng.run()
    return eng


def _batch_metrics(eng):
    keys = (
        "batch_id", "applied_events", "per_bucket_applied", "touched_buckets",
        "rows_written", "max_event_ts", "merge_plan",
    )
    return [
        {k: r.get(k) for k in keys}
        for r in eng.metrics.records
        if r.get("kind") == "batch"
    ]


def _rows(eng):
    return sorted(tuple(r) for r in eng.read_table().collect())


def test_prefetch_matches_per_batch_probe(spark, tmp_path, monkeypatch):
    wal = os.path.join(tmp_path, "wal")
    _write_wal(spark, wal, seed=7, hot_key_pct=10, dup_pct=5)
    handed = []
    real_merge = IceboxTable.merge

    def merge_spy(self, *args, **kwargs):
        handed.append(kwargs.get("probe_stats"))
        return real_merge(self, *args, **kwargs)

    monkeypatch.setattr(IceboxTable, "merge", merge_spy)
    a = _run(spark, wal, os.path.join(tmp_path, "ta"))
    a_handed = list(handed)
    b = _run(spark, wal, os.path.join(tmp_path, "tb"), disable_prefetch=True)
    # every planned range's merge was handed a prefetched entry, so the
    # per-batch probe was skipped in favor of it (probe time ≈ 0 means no
    # job, but assert on the mechanism, not the clock: stats were
    # populated) — and the stats did not outlive the run
    assert a_handed and all(e is not None and e["rows"] for e in a_handed)
    assert a._probe_stats == {}
    assert _batch_metrics(a) == _batch_metrics(b)
    assert _rows(a) == _rows(b)


def test_merge_ignores_stale_probe_stats(spark, tmp_path):
    """Deliberately WRONG prefetched stats that fail each validity guard
    must not affect the merge (it re-probes itself)."""
    wal = os.path.join(tmp_path, "wal")
    _write_wal(spark, wal, seed=9)
    ref = _run(spark, wal, os.path.join(tmp_path, "ref"), disable_prefetch=True)

    garbage_rows = [{"_bucket": 0, "n": 10**9, "mx": 10**9, "mts": None}]
    for tag, stale in (
        # wrong bucket count (a rebucket happened after the prefetch)
        ("nb", lambda lo: {"lo": lo, "nb": 999, "key": "doc_id", "rows": garbage_rows}),
        # wrong key column
        ("key", lambda lo: {"lo": lo, "nb": 8, "key": "other", "rows": garbage_rows}),
        # fence advanced past the slice (concurrent commit won the range)
        ("lo", lambda lo: {"lo": -10**9, "nb": 8, "key": "doc_id", "rows": garbage_rows}),
    ):
        cfg = JobConfig(
            log_path=wal, table_path=os.path.join(tmp_path, f"t_{tag}"),
            batch_size=3_500, n_buckets=8,
        )
        eng = CDCEngine(spark, cfg)
        real = eng._prefetch_probe_stats

        def poisoned(plan, _real=real, _stale=stale):
            return {rng: _stale(rng[0]) for rng in plan}

        eng._prefetch_probe_stats = poisoned
        eng.run()
        assert _rows(eng) == _rows(ref), f"stale-{tag} stats leaked into merge"
        assert _batch_metrics(eng) == _batch_metrics(ref)


def test_prefetch_survives_midrun_rebucket(spark, tmp_path):
    """A stats-driven rebucket between batches invalidates the remaining
    prefetched entries (their nb no longer matches); the merge falls back
    to probing and the replay converges to the probe-only state."""
    wal = os.path.join(tmp_path, "wal")
    _write_wal(spark, wal, seed=11, hot_key_pct=10, dup_pct=5)
    a = _run(spark, wal, os.path.join(tmp_path, "ta"), target_bucket_bytes=2_000)
    b = _run(
        spark, wal, os.path.join(tmp_path, "tb"),
        disable_prefetch=True, target_bucket_bytes=2_000,
    )
    assert a.table.n_buckets > 8, "rebucket did not fire; tighten the target"
    assert a.table.n_buckets == b.table.n_buckets
    assert _rows(a) == _rows(b)


def test_prefetch_resume_from_checkpoint(spark, tmp_path):
    """A resumed run re-prefetches only the remaining ranges; the final
    state matches a single uninterrupted probe-only replay."""
    wal = os.path.join(tmp_path, "wal")
    _write_wal(spark, wal, seed=13, dup_pct=10)
    tbl = os.path.join(tmp_path, "t")
    cfg = JobConfig(log_path=wal, table_path=tbl, batch_size=3_500, n_buckets=8)
    CDCEngine(spark, cfg).run(max_batches=2)
    resumed = CDCEngine(spark, cfg)
    resumed.run()
    ref = _run(spark, wal, os.path.join(tmp_path, "ref"), disable_prefetch=True)
    assert _rows(resumed) == _rows(ref)
