"""The micro-batch harness (streaming/microbatch.py) on a tiny arrival
stream: one version per arrival, crash replay over versioned state,
and the no-op and arrival checks."""

from __future__ import annotations

import os

import pytest

K = 3


@pytest.fixture()
def tiny(spark):
    return spark.range(30).selectExpr("id", "id * 2 AS v")


def _summing_step(spark, state):
    """Versioned running sum of ``v``: batch N writes v{N} from the
    latest version strictly below N plus its own rows."""
    from xsarsea_spark.engine import load_kv_json, save_kv_json
    from xsarsea_spark.streaming.microbatch import (latest_state,
                                                    version_path)

    def step(df, batch_id):
        prev = latest_state(spark, state, below=batch_id)
        total = load_kv_json(spark, prev)[0] if prev else 0
        total += df.groupBy().sum("v").collect()[0][0]
        save_kv_json(spark, [total], version_path(state, batch_id))

    return step


def test_arrivals_versions_and_crash_replay(spark, tiny, tmp_path):
    from xsarsea_spark.engine import fs_write_text, load_kv_json
    from xsarsea_spark.streaming.microbatch import (latest_state,
                                                    replay_arrivals,
                                                    run_available,
                                                    state_versions,
                                                    version_path)

    base = str(tmp_path / "run")
    state = os.path.join(base, "state")
    step = _summing_step(spark, state)
    replay_arrivals(spark, tiny, f"id % {K}", K, base, step)

    # K arrivals -> K versions, the last one holding the full sum
    assert state_versions(spark, state) == [
        version_path(state, n) for n in range(K)]
    full = sum(2 * i for i in range(30))
    assert load_kv_json(spark, latest_state(spark, state)) == [full]

    # crash inside fs_write_text's replace of the last version: the
    # new bytes sit in v{N}.tmp, v{N} is already deleted, and the
    # checkpoint never committed batch N; a stray higher .tmp is
    # left too. Neither .tmp may count as a version.
    last = K - 1
    os.remove(version_path(state, last))
    fs_write_text(spark, version_path(state, last) + ".tmp", "[-1]")
    fs_write_text(spark, version_path(state, 9) + ".tmp", "[-1]")
    for name in (str(last), f".{last}.crc"):
        p = os.path.join(base, "ckpt", "commits", name)
        if os.path.exists(p):
            os.remove(p)
    assert latest_state(spark, state) == version_path(state, last - 1)

    # restart: Spark re-delivers batch N, which rebuilds v{N} from
    # v{N-1} — the same value as before the crash
    source = spark.readStream.schema(tiny.schema).parquet(
        os.path.join(base, "incoming"))
    progress = run_available(source, step, os.path.join(base, "ckpt"))
    assert [p.batchId for p in progress if p.numInputRows] == [last]
    assert latest_state(spark, state) == version_path(state, last)
    assert load_kv_json(spark, version_path(state, last)) == [full]


def test_noop_check_raises_on_fresh_checkpoint(spark, tiny, tmp_path):
    from xsarsea_spark.streaming.microbatch import (run_available,
                                                    run_noop)

    src_dir = str(tmp_path / "src")
    tiny.write.parquet(src_dir)

    def source():
        return spark.readStream.schema(tiny.schema).parquet(src_dir)

    def count(df, batch_id):
        # input rows are counted as the batch reads them
        df.count()

    ckpt = str(tmp_path / "ckpt")
    run_available(source(), count, ckpt)
    run_noop(source(), count, ckpt)     # same checkpoint: a no-op
    with pytest.raises(RuntimeError, match="expected a no-op"):
        run_noop(source(), count, str(tmp_path / "fresh_ckpt"))


def test_skipped_arrival_raises(spark, tiny, tmp_path):
    from xsarsea_spark.streaming.microbatch import replay_arrivals

    # the key never takes the value K-1, so the last arrival is empty
    with pytest.raises(RuntimeError, match="skipped or split"):
        replay_arrivals(spark, tiny, f"id % {K - 1}", K,
                        str(tmp_path / "run"), lambda df, b: df.count())
