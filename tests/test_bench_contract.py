"""Driver-contract regression guards for bench.py's stdout protocol
(VERDICT r5 wrong #2: the single 56-query JSON line outgrew the
driver's ~2000-char tail-capture window and BENCH_r05.json came back
``parsed: null``)."""

import json
import sys

sys.path.insert(0, ".")

import bench  # noqa: E402


def _fake_line(n_queries: int) -> dict:
    return {
        "metric": "tile-assignment+spatial-join suite wall time",
        "value": 123.456,
        "value_floor": 98.765,
        "noise_band": 1.25,
        "unit": "sec",
        "sf": 0.1,
        "input_rows": 150000,
        "queries": {
            f"some_rather_long_query_name_{i:03d}": round(0.123 * i, 3)
            for i in range(n_queries)
        },
        "queries_floor": {
            f"some_rather_long_query_name_{i:03d}": round(0.1 * i, 3)
            for i in range(n_queries)
        },
        "throughput": {
            "tile_count_geodetic_z5_tiles_per_sec": 276155,
            "tile_count_mercator_z7_tiles_per_sec": 264100,
            "pip_join_rows_per_sec": 241678,
            "tile_count_salted_z5_tiles_per_sec": 463379,
        },
        "scaling": {
            "cores_big": 8, "cores_small": 2, "efficiency": 0.95,
            "rows": 1000000000, "rows_per_sec_big": 138561729,
            "rows_per_sec_small": 36452448, "t_big_sec": 7.217,
            "t_small_sec": 27.433,
            "write": {"cores": 8, "images": 5000, "images_per_sec": 228,
                      "t_sec": 21.974},
        },
    }


def test_compact_line_fits_tail_window_at_any_suite_size():
    for n in (10, 56, 120, 400):
        compact = bench._compact_line(_fake_line(n))
        s = json.dumps(compact)
        assert len(s) <= 1990, (n, len(s))
        # the summary keys the judge compares against BASELINE.md
        for key in ("value", "value_floor", "noise_band", "sf",
                    "n_queries", "throughput", "scaling",
                    "queries", "queries_full"):
            assert key in compact, key
        assert compact["n_queries"] == n


def test_compact_line_keeps_slowest_queries_first():
    c = bench._compact_line(_fake_line(200))
    kept = list(c["queries"].values())
    assert kept == sorted(kept, reverse=True)
    assert kept[0] == max(_fake_line(200)["queries"].values())


def test_committed_last_run_round_trips():
    # the real artifact the driver's final line points at
    full = json.load(open("BENCH/LAST_RUN.json"))
    s = json.dumps(bench._compact_line(full))
    assert len(s) <= 1990


def test_registry_rotation_contract():
    """ADVICE r6 #5: the driver records only the first 50 registry
    entries — every entry (driver-facing AND overflow) must carry an
    oracle, the cap must hold, and each demoted entry must leave a
    retained sibling so no operator family goes driver-invisible."""
    from conftest import S2_FIXTURES_PRESENT
    from mapchete_xarray_spark import queries as q

    assert len(q.QUERIES) <= q._DRIVER_QUERY_CAP
    oracles = {**q.ORACLES, **q.EXTRA_ORACLES}
    for name in q.all_queries():
        assert name in oracles, f"{name} registered without an oracle"
        if name == "s2_stack_ingest" and not S2_FIXTURES_PRESENT:
            # its golden-zarr oracle is built only where the fixture exists
            assert callable(oracles[name])
            continue
        sql = q.resolve_oracle(name)
        assert isinstance(sql, str) and sql.strip()
    # rotation bookkeeping: everything demoted this round is actually
    # in the overflow dict, and nothing is in both
    assert set(q.DEMOTED_BY_ROUND[q.CURRENT_ROUND]) == set(q.EXTRA_QUERIES)
    assert not set(q.EXTRA_QUERIES) & set(q.QUERIES)
    # VERDICT r7 wrong #1: no entry may be demoted two consecutive
    # rounds — encoded over the full history, with the r6∩r7 holdover
    # frozen as the historical violation that produced the rule.
    _frozen_violation = {
        "tile_count_salted_z5", "minhash_signatures", "simhash_docs",
        "dedup_survivors", "regrid_base_to_mercator",
    }
    rounds = sorted(q.DEMOTED_BY_ROUND)
    assert rounds == list(range(rounds[0], rounds[-1] + 1))
    for a, b in zip(rounds, rounds[1:]):
        overlap = set(q.DEMOTED_BY_ROUND[a]) & set(q.DEMOTED_BY_ROUND[b])
        if (a, b) == (6, 7):
            assert overlap == _frozen_violation
        else:
            assert not overlap, f"demoted in both r{a} and r{b}: {overlap}"
    # everything demoted LAST round is driver-visible THIS round
    for name in q.DEMOTED_BY_ROUND[q.CURRENT_ROUND - 1]:
        assert name in q.QUERIES, f"r{q.CURRENT_ROUND - 1}-demoted {name} not promoted"
    # r8 addition: the s2-stack ingest entry is driver-visible
    assert "s2_stack_ingest" in q.QUERIES


def test_merge_floors_monotone_and_noise_band(tmp_path, monkeypatch):
    import os

    monkeypatch.chdir(tmp_path)
    os.makedirs("BENCH")
    json.dump(
        {"sf": 0.1, "queries": {"a": 1.0, "b": 2.0, "gone": 9.9}},
        open("BENCH/FLOORS.json", "w"),
    )
    # current run: a slower (noise), b faster (real win), c new
    floors, band = bench._merge_floors({"a": 3.0, "b": 1.5, "c": 0.5}, 0.1)
    assert floors == {"a": 1.0, "b": 1.5, "c": 0.5}
    assert band == round(5.0 / 3.0, 3)
    committed = json.load(open("BENCH/FLOORS.json"))
    assert committed["queries"] == floors  # merged + stale key dropped
    # non-canonical sf: floors from this run only, file untouched
    f2, band2 = bench._merge_floors({"a": 2.0}, 0.01)
    assert f2 == {"a": 2.0} and band2 == 1.0
    assert json.load(open("BENCH/FLOORS.json"))["queries"] == floors


def test_merge_runs_selects_fullest_json_line(tmp_path, monkeypatch):
    """r8 regression: merge_bench_runs must merge from the FULL query
    map, not the final compact line whose map is truncated to fit the
    driver's ~2000-char tail window (the truncated line silently
    dropped 21/61 queries from the merged baseline)."""
    import subprocess
    import os
    import sys as _sys

    full = _fake_line(60)
    compact = bench._compact_line(dict(full))
    assert len(compact.get("queries", {})) < len(full["queries"])
    run = tmp_path / "run1.json"
    with open(run, "w") as f:
        f.write(json.dumps(full) + "\n")
        f.write(json.dumps(compact) + "\n")
    out_md = tmp_path / "OUT.md"
    env = dict(os.environ, SPARK_GRAFT_MD_OUT=str(out_md))
    # cwd MUST be isolated: merge_bench_runs folds canonical-sf
    # minima into BENCH/FLOORS.json relative to cwd (running from the
    # repo root would pollute the real committed floors with the fake
    # query names — it did, once)
    repo = os.getcwd()
    os.makedirs(tmp_path / "BENCH", exist_ok=True)
    env["PYTHONPATH"] = repo
    res = subprocess.run(
        [_sys.executable, os.path.join(repo, "scripts/merge_bench_runs.py"),
         str(run), "--out", str(out_md)],
        capture_output=True, text=True, env=env, cwd=tmp_path,
    )
    assert res.returncode == 0, res.stderr
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["queries"] == len(full["queries"])
