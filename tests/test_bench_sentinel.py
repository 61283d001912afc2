"""r14 bench-harness guard: the noisy-host verdict must catch a host
that STARTS slow and recovers (the r13 blind spot — every per-query
floor inflated ~1.6x while the signed-drift sentinel self-certified
the record clean), while keeping the two r12-era trips (end-slower
drift, pre-start loadavg) and the benign JIT-warm-up case intact.

Pure-python: imports bench for host_noise_verdict and
load_sentinel_floors only (no Spark)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import host_noise_verdict, load_sentinel_floors


def test_quiet_host_with_jit_warmup_is_benign():
    # start 0.050 -> end 0.023 on a quiet host: faster end is JIT
    # warm-up, floor 0.04 not exceeded by >1.5x
    noisy, slow_start, floor, spread = host_noise_verdict(
        0.050, 0.023, loadavg_1m=0.1, cpus=32, prev_floor=0.040)
    assert not noisy and not slow_start
    # the floor ratchets on START sentinels only — the JIT-warm end
    # (structurally ~2x faster) must never poison it, or every later
    # honest start would read as >1.5x the floor
    assert floor == 0.040
    assert spread < 0


def test_slow_start_that_recovers_is_flagged():
    # the r13 failure mode: start sentinel 0.080 decaying to 0.025 with
    # a historical quiet-start floor of 0.040 — signed drift is
    # negative (looks like warm-up) but the start is 2x the floor
    noisy, slow_start, floor, _ = host_noise_verdict(
        0.080, 0.025, loadavg_1m=0.1, cpus=32, prev_floor=0.040)
    assert noisy and slow_start
    assert floor == 0.040


def test_no_history_means_no_slow_start_verdict():
    # first run ever: no floor to compare against; only the two
    # original trips apply
    noisy, slow_start, floor, _ = host_noise_verdict(
        0.058, 0.020, loadavg_1m=0.1, cpus=32, prev_floor=None)
    assert not noisy and not slow_start
    assert floor == 0.058  # seeds the history with the START value


def test_end_slower_drift_still_trips():
    noisy, slow_start, _, spread = host_noise_verdict(
        0.030, 0.060, loadavg_1m=0.1, cpus=32, prev_floor=0.030)
    assert noisy and not slow_start and spread > 0.25


def test_loadavg_gate_still_trips():
    noisy, _, _, _ = host_noise_verdict(
        0.030, 0.030, loadavg_1m=80.0, cpus=32, prev_floor=0.030)
    assert noisy


def test_floor_never_rises():
    # a noisy run must not poison the floor upward
    _, _, floor, _ = host_noise_verdict(
        0.090, 0.080, loadavg_1m=0.1, cpus=32, prev_floor=0.020)
    assert floor == 0.020


def test_seed_floor_used_when_no_local_history():
    # fresh checkout: bench_out.json gone, committed seed present —
    # the cold first run (start 0.277 observed on a rebooted box) must
    # flag instead of self-certifying clean
    from bench import merged_sentinel_floors
    floors = merged_sentinel_floors({}, {"32": 0.0414})
    noisy, slow_start, _, _ = host_noise_verdict(
        0.277, 0.020, loadavg_1m=0.1, cpus=32, prev_floor=floors["32"])
    assert noisy and slow_start


def test_local_floor_wins_when_faster_and_seed_caps_polluted_local():
    from bench import merged_sentinel_floors
    # faster local measurement is authoritative
    assert merged_sentinel_floors({"32": 0.030}, {"32": 0.0414}) == {
        "32": 0.030}
    # a local floor ratcheted from a cold first run cannot mask history
    assert merged_sentinel_floors({"32": 0.2772}, {"32": 0.0414}) == {
        "32": 0.0414}
    # core counts without a seed pass through unchanged
    assert merged_sentinel_floors({"8": 0.033}, {"32": 0.0414}) == {
        "8": 0.033, "32": 0.0414}


def test_sentinel_floors_load_reports_unreadable_seed(tmp_path):
    out = tmp_path / "bench_out.json"
    seed = tmp_path / "bench_sentinel_floors.json"
    # no history and no seed: empty floors, nothing to report
    assert load_sentinel_floors(str(out), str(seed)) == ({}, None)
    out.write_text(json.dumps(
        {"host_noise": {"sentinel_floor_sec": {"32": 0.05, "8": 0.2}}}))
    seed.write_text(json.dumps({"32": 0.04}))
    assert load_sentinel_floors(str(out), str(seed)) == (
        {"32": 0.04, "8": 0.2}, None)
    # a seed that exists but cannot be loaded: the local floors stand
    # and the error names the file
    seed.write_text("{not json")
    floors, error = load_sentinel_floors(str(out), str(seed))
    assert floors == {"32": 0.05, "8": 0.2}
    assert error.startswith(f"cannot load {seed}:")
    # a corrupt bench_out.json only means no local history
    out.write_text("garbage")
    seed.write_text(json.dumps({"32": 0.04}))
    assert load_sentinel_floors(str(out), str(seed)) == ({"32": 0.04}, None)
