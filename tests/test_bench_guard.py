"""Pins for the bench.py regression guard (r7 judge order #1).

The guard decision moved from the median total to the min-of-5 total
because three rounds of artifacts (r5–r7) recorded 10–25% phantom
regressions that were pure co-tenant load: the median of 5 timed runs
absorbs in-run load spikes poorly, while the min is close to the engine's
true cost even on a busy box. These tests pin the guard as a pure
function so the verdict logic can never silently drift back to a
load-sensitive basis.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench", os.path.join(_ROOT, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bench = _load_bench()


def test_guard_clean_on_quiet_box_numbers():
    # r7 judge quiet-box rerun: min 8.038 headline / 6.107 extended-median
    # (extended min below that) — well under 2x the r4 min anchors
    assert bench.guard_verdict(0.1, 8.038, 5.0) == []


def test_guard_trips_on_real_regression():
    msgs = bench.guard_verdict(0.1, 2 * bench.GUARD_ANCHOR_MIN_SEC + 0.001, 1.0)
    assert len(msgs) == 1 and "headline" in msgs[0]
    msgs = bench.guard_verdict(
        0.1, 1.0, 2 * bench.GUARD_EXTENDED_ANCHOR_MIN_SEC + 0.001
    )
    assert len(msgs) == 1 and "extended" in msgs[0]
    msgs = bench.guard_verdict(0.1, 100.0, 100.0)
    assert len(msgs) == 2


def test_guard_only_judges_anchor_sf():
    """The anchors are sf0.1 numbers; any other scale factor (or an
    unparseable dir → sf=None) must not be compared against them."""
    assert bench.guard_verdict(0.01, 100.0, 100.0) == []
    assert bench.guard_verdict(None, 100.0, 100.0) == []


def test_guard_verdict_is_load_invariant():
    """The property the r5–r7 artifacts lacked: inflate the MEDIANS by the
    worst observed load factor (r7: median 9.688 vs quiet 8.502 ≈ 1.14x;
    allow up to 1.4x) while the mins stay near the engine's true cost —
    the verdict must equal the quiet-box verdict, because the guard never
    reads the medians at all."""
    quiet_min, quiet_ext_min = 7.739, 4.610  # == the r4 anchors themselves
    base = bench.guard_verdict(0.1, quiet_min, quiet_ext_min)
    # loaded box: mins drift a little (observed ≤ ~1.15x on min vs ~1.4x on
    # median); verdicts must agree across the whole observed drift band
    for drift in (1.0, 1.05, 1.1, 1.15):
        loaded = bench.guard_verdict(
            0.1, round(quiet_min * drift, 3), round(quiet_ext_min * drift, 3)
        )
        assert loaded == base == []


def _quiet_artifacts(pattern=os.path.basename(bench.QUIET_ARTIFACT_GLOB)):
    paths = sorted(
        glob.glob(os.path.join(os.path.dirname(bench.QUIET_ARTIFACT_GLOB), pattern))
    )
    assert paths, f"quiet-box anchor artifacts missing: {pattern}"
    return [(os.path.basename(p), json.load(open(p))) for p in paths]


def _record(load: float, mins: dict, ext_mins: dict) -> dict:
    """The fields of a bench artifact that anchor derivation reads."""
    return {
        "loadavg_before": [load, load, load],
        "queries_min": mins,
        "extended_queries_min": ext_mins,
        "min_total_sec": round(sum(mins.values()), 3),
        "extended_min_total_sec": round(sum(ext_mins.values()), 3),
    }


def _write(tmp_path, name: str, record: dict) -> str:
    path = os.path.join(str(tmp_path), name)
    with open(path, "w") as fh:
        json.dump(record, fh)
    return path


def _full_set(sec: float) -> tuple[dict, dict]:
    return (
        {k: sec for k in bench.HEADLINE},
        {k: sec for k in bench.EXTENDED},
    )


def test_committed_anchors_derive_from_the_quiet_artifacts():
    """The module's anchors are exactly what the committed records give,
    and both totals have a record of the current key set behind them."""
    head, ext, per_key = bench.derive_anchors(
        sorted(glob.glob(bench.QUIET_ARTIFACT_GLOB))
    )
    assert (head, ext, per_key) == (
        bench.GUARD_ANCHOR_MIN_SEC,
        bench.GUARD_EXTENDED_ANCHOR_MIN_SEC,
        bench.PER_KEY_ANCHOR_MIN_SEC,
    )
    assert head is not None and ext is not None


def test_loaded_artifact_changes_no_anchor(tmp_path):
    """A record started at or above LOAD_WARN_THRESHOLD never mints an
    anchor, however fast it looks."""
    quiet = _write(tmp_path, "q.json", _record(0.3, *_full_set(1.0)))
    base = bench.derive_anchors([quiet])
    for load in (bench.LOAD_WARN_THRESHOLD, 5.34, 11.09):
        loaded = _write(tmp_path, "l.json", _record(load, *_full_set(0.1)))
        assert bench.derive_anchors([quiet, loaded]) == base, load


def test_per_key_anchor_is_best_min_across_quiet_artifacts(tmp_path):
    mins, ext = _full_set(1.0)
    faster = dict(mins, dedup_exact=0.4)
    a = _write(tmp_path, "a.json", _record(0.5, mins, ext))
    b = _write(tmp_path, "b.json", _record(1.9, faster, {}))
    _, _, per_key = bench.derive_anchors([a, b])
    assert per_key["dedup_exact"] == 0.4
    assert per_key["join_inner"] == 1.0
    assert per_key[bench.EXTENDED[0]] == 1.0


def test_total_anchor_uses_only_current_key_set(tmp_path, monkeypatch):
    """Totals of different key sets are not comparable: a faster record
    that timed fewer keys leaves the total anchors alone."""
    mins, ext = _full_set(1.0)
    full = _write(tmp_path, "full.json", _record(0.2, mins, ext))
    subset = _write(
        tmp_path, "sub.json",
        _record(0.2, dict(list(mins.items())[:-1]), dict(list(ext.items())[:-1])),
    )
    head, ext_total, _ = bench.derive_anchors([full, subset])
    assert head == float(len(bench.HEADLINE))
    assert ext_total == float(len(bench.EXTENDED))
    # with no record of the current set, the totals are unanchored and an
    # unanchored total cannot violate
    head, ext_total, _ = bench.derive_anchors([subset])
    assert head is None and ext_total is None
    monkeypatch.setattr(bench, "GUARD_ANCHOR_MIN_SEC", None)
    msgs = bench.guard_verdict(0.1, 1e9, 1e9)
    assert len(msgs) == 1 and "extended" in msgs[0]


def test_key_without_artifact_is_unanchored(tmp_path):
    mins, ext = _full_set(1.0)
    _, _, per_key = bench.derive_anchors(
        [_write(tmp_path, "a.json", _record(0.1, mins, ext))]
    )
    assert "brand_new_key" not in per_key
    assert bench.derive_anchors([]) == (None, None, {})


def test_new_quiet_artifact_moves_anchors_without_code_edit(tmp_path):
    """Committing a record is the whole act: a copy of bench.py beside a
    copy of the committed records picks up a new quiet run's tighter
    per-key and total anchors on import, and ignores a loaded one."""
    import shutil

    art_dir = tmp_path / "artifacts"
    art_dir.mkdir()
    shutil.copy(os.path.join(_ROOT, "bench.py"), tmp_path / "bench.py")
    for name, record in _quiet_artifacts():
        _write(art_dir, name, record)

    def load_copy():
        spec = importlib.util.spec_from_file_location(
            "bench_copy", str(tmp_path / "bench.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    before = load_copy()
    assert before.PER_KEY_ANCHOR_MIN_SEC == bench.PER_KEY_ANCHOR_MIN_SEC
    assert before.GUARD_ANCHOR_MIN_SEC == bench.GUARD_ANCHOR_MIN_SEC
    # a loaded record, however fast, changes nothing
    _write(art_dir, "bench_quiet_r99_run1.json", _record(7.5, *_full_set(0.001)))
    loaded = load_copy()
    assert loaded.PER_KEY_ANCHOR_MIN_SEC == bench.PER_KEY_ANCHOR_MIN_SEC
    assert loaded.GUARD_EXTENDED_ANCHOR_MIN_SEC == bench.GUARD_EXTENDED_ANCHOR_MIN_SEC
    # a quiet record 10% under every current anchor tightens all of them
    mins = {k: round(bench.PER_KEY_ANCHOR_MIN_SEC[k] * 0.9, 3) for k in bench.HEADLINE}
    ext = {k: round(bench.PER_KEY_ANCHOR_MIN_SEC[k] * 0.9, 3) for k in bench.EXTENDED}
    _write(art_dir, "bench_quiet_r99_run2.json", _record(0.4, mins, ext))
    after = load_copy()
    for k in bench.HEADLINE + bench.EXTENDED:
        assert after.PER_KEY_ANCHOR_MIN_SEC[k] == {**mins, **ext}[k], k
    assert after.GUARD_ANCHOR_MIN_SEC == round(sum(mins.values()), 3)
    assert after.GUARD_ANCHOR_MIN_SEC < bench.GUARD_ANCHOR_MIN_SEC
    assert after.GUARD_EXTENDED_ANCHOR_MIN_SEC < bench.GUARD_EXTENDED_ANCHOR_MIN_SEC


def test_artifact_guard_block_fields():
    """bench.py main() emits a self-adjudicating guard block; pin the
    schema contract here (basis + anchors + violations + loaded_box) by
    reconstructing the dict the same way main() does."""
    violations = bench.guard_verdict(0.1, 7.0, 4.0)
    block = {
        "basis": "min_total_sec",
        "anchor_min_sec": bench.GUARD_ANCHOR_MIN_SEC,
        "extended_anchor_min_sec": bench.GUARD_EXTENDED_ANCHOR_MIN_SEC,
        "violations": violations,
        "loaded_box": 3.5 > bench.LOAD_WARN_THRESHOLD,
    }
    assert block["violations"] == [] and block["loaded_box"] is True
    # and the source really wires guard_verdict's output into that block
    src = open(os.path.join(_ROOT, "bench.py")).read()
    assert '"basis": "min_total_sec"' in src
    assert '"violations": violations' in src
    assert "violations = guard_verdict(sf, min_total, ext_min_total)" in src


def test_per_key_anchors_cover_the_whole_mix():
    """Every headline and extended key carries a per-key anchor (r10
    order #4) — a key silently missing from the table would be exempt
    from the per-key guard forever."""
    for name in bench.HEADLINE + bench.EXTENDED:
        assert name in bench.PER_KEY_ANCHOR_MIN_SEC, name
        assert bench.PER_KEY_ANCHOR_MIN_SEC[name] > 0


def test_per_key_guard_trips_on_synthetic_single_key_regression():
    """A single key at 2x+ its anchor trips the per-key guard even when
    the TOTAL stays inside the total anchor — exactly the blind spot the
    r10 verdict called out."""
    mins = {k: v for k, v in bench.PER_KEY_ANCHOR_MIN_SEC.items()
            if k in bench.HEADLINE}
    mins["dedup_exact"] = round(
        2 * bench.PER_KEY_ANCHOR_MIN_SEC["dedup_exact"] + 0.001, 3
    )
    # the regressed total is still far under 2x the total anchor
    assert sum(mins.values()) < 2 * bench.GUARD_ANCHOR_MIN_SEC
    assert bench.guard_verdict(0.1, sum(mins.values()), 1.0) == []
    msgs, table = bench.per_key_verdict(mins)
    assert len(msgs) == 1 and "dedup_exact" in msgs[0]
    assert table["dedup_exact"]["violation"] is True
    assert all(
        row["violation"] is False
        for k, row in table.items() if k != "dedup_exact"
    )


def test_per_key_guard_ignores_load_noise():
    """The r10 drift band (sim_topk_ivf +17%, several keys +10-35% on a
    loaded box) must NOT trip the per-key guard — only a genuine 2x+
    per-key regression does."""
    for drift in (1.0, 1.17, 1.35, 1.6, 1.99):
        mins = {
            k: round(v * drift, 3)
            for k, v in bench.PER_KEY_ANCHOR_MIN_SEC.items()
        }
        msgs, table = bench.per_key_verdict(mins)
        assert msgs == [], drift
        assert all(not row["violation"] for row in table.values())


def test_per_key_guard_handles_unanchored_keys():
    """A key new to the mix (no recorded anchor yet) reports a null
    anchor and cannot violate; its first artifact mints the anchor."""
    msgs, table = bench.per_key_verdict({"brand_new_key": 123.0})
    assert msgs == []
    assert table["brand_new_key"] == {
        "min_sec": 123.0, "anchor_min_sec": None,
        "ratio": None, "violation": False,
    }


def test_artifact_wires_per_key_table():
    """main() merges per-key violations into the guard verdict and
    emits the per-key table in the guard block."""
    src = open(os.path.join(_ROOT, "bench.py")).read()
    assert '"per_key": per_key_table' in src
    assert "pk_msgs, per_key_table = per_key_verdict(" in src
    assert "violations = violations + pk_msgs" in src


def _synthetic_full(violating: bool = False) -> dict:
    """A full-artifact dict shaped exactly like bench.main() builds, with
    the REAL key sets and worst-case-width numbers, so the compact-line
    length pin measures the true production line."""
    per_key = {
        k: {"min_sec": 12.345, "anchor_min_sec": 12.345, "ratio": 1.23,
            "violation": violating}
        for k in bench.HEADLINE + bench.EXTENDED
    }
    return {
        "metric": "headline_queries_total",
        "value": 123.456,
        "unit": "sec",
        "queries": {k: 12.345 for k in bench.HEADLINE},
        "queries_min": {k: 12.345 for k in bench.HEADLINE},
        "sf": 0.1,
        "methodology": "x" * 300,
        "cold_total_sec": 123.456,
        "min_total_sec": 123.456,
        "extended_queries": {k: 12.345 for k in bench.EXTENDED},
        "extended_queries_min": {k: 12.345 for k in bench.EXTENDED},
        "extended_total_sec": 123.456,
        "extended_min_total_sec": 123.456,
        "loadavg_before": [12.34, 12.34, 12.34],
        "loadavg_after": [12.34, 12.34, 12.34],
        "uptime_sec": 12345678.9,
        "calibration_sec": 0.249,
        "mc_probe": {
            "width": 8,
            "tail_minmax": [0.033, 12.345],
            "per_key_tail_sec": {
                k: 12.345 for k in bench.HEADLINE + bench.EXTENDED
            },
        },
        "jvm_probe": {
            "rows": 128_000_000,
            "partitions": 32,
            "minmax": [0.163, 12.345],
            "per_key_sec": {
                k: 12.345 for k in bench.HEADLINE + bench.EXTENDED
            },
        },
        "retry": {
            "policy": "x" * 120,
            # worst case for line width: every key retried
            "retried_keys": sorted(bench.HEADLINE + bench.EXTENDED),
            "first_pass_min_sec": {
                k: 12.345 for k in bench.HEADLINE + bench.EXTENDED
            },
        },
        "artifact_path": bench.ARTIFACT_PATH,
        "guard": {
            "basis": "min_total_sec",
            "anchor_min_sec": bench.GUARD_ANCHOR_MIN_SEC,
            "extended_anchor_min_sec": bench.GUARD_EXTENDED_ANCHOR_MIN_SEC,
            "violations": (
                ["BENCH REGRESSION (per-key): x"] if violating else []
            ),
            "loaded_box": True,
            "per_key_basis": "min-of-5 vs best-recorded min, 2x",
            "per_key": per_key,
        },
    }


def test_compact_line_fits_driver_tail_capture():
    """The r8–r12 failure mode: the one-line JSON outgrew the driver's
    ~2,000-char stdout tail capture, leaving BENCH_r*.json with
    parsed=null for five rounds. Pin that the compact line — built from
    the REAL key sets with pessimistically wide numbers, even with every
    key violating — stays under the ceiling."""
    for violating in (False, True):
        line = json.dumps(bench.compact_from_full(_synthetic_full(violating)))
        assert len(line) <= bench.COMPACT_LINE_MAX_CHARS, len(line)
    assert bench.COMPACT_LINE_MAX_CHARS <= 1800


def test_compact_line_carries_driver_contract_fields():
    """The driver contract requires metric/value/unit/queries/sf on the
    one line; the r13 additions (calibration fingerprint, artifact
    pointer, guard verdict summary) ride alongside so the driver record
    is self-adjudicating again."""
    compact = bench.compact_from_full(_synthetic_full())
    for field in (
        "metric", "value", "unit", "queries", "sf",
        "min_total_sec", "extended_min_total_sec",
        "calibration_sec", "artifact", "violations", "violation_keys",
        "loaded_box", "anchor_min_sec", "extended_anchor_min_sec",
    ):
        assert field in compact, field
    assert compact["metric"] == "headline_queries_total"
    assert compact["unit"] == "sec"
    assert sorted(compact["queries"]) == sorted(bench.HEADLINE)
    assert compact["artifact"] == bench.ARTIFACT_PATH
    # violations is a COUNT on the line (messages live in the artifact)
    assert compact["violations"] == 0
    bad = bench.compact_from_full(_synthetic_full(violating=True))
    assert bad["violations"] == 1
    assert bad["violation_keys"] == sorted(bench.HEADLINE + bench.EXTENDED)


def test_main_writes_full_artifact_and_prints_compact_line():
    """main() must write the FULL record to the artifact path and print
    ONLY the compact line on stdout — source pin, same style as
    test_artifact_guard_block_fields."""
    src = open(os.path.join(_ROOT, "bench.py")).read()
    assert "with open(ARTIFACT_PATH, \"w\") as fh:" in src
    assert "json.dump(full, fh" in src
    assert "line = json.dumps(compact_from_full(full))" in src
    assert "print(line)" in src
    # the old failure mode — json.dumps of the full dict on stdout — is gone
    assert "print(\n        json.dumps(" not in src


def test_compact_line_carries_mc_probe_and_retry_summary():
    """The r13-opt additions: the one-line record must carry the
    multi-core probe band (mid-run collapse adjudication) and the
    second-chance retry count, so the driver record is self-adjudicating
    against the box's minute-scale multi-core collapse."""
    compact = bench.compact_from_full(_synthetic_full())
    assert compact["mc_probe_tail_minmax"] == [0.033, 12.345]
    assert compact["jvm_probe_minmax"] == [0.163, 12.345]
    assert compact["retried"] == len(bench.HEADLINE + bench.EXTENDED)


def test_jvm_probe_is_wired_per_key_and_on_retry():
    """The Spark-stage probe must run beside the pure-CPU probe after
    every key and every retry (the collapse mode is JVM-specific: the
    mc probe stayed flat at 8 AND 24 wide through a window in which
    Spark stages were 5-6x degraded, so only a JVM-side probe can
    adjudicate those violations), with one untimed call after warmup to
    absorb its own codegen."""
    src = open(os.path.join(_ROOT, "bench.py")).read()
    body = src.split("def main")[1]
    assert body.count("jvm_tail[name] = jvm_probe(spark)") == 2
    assert 'jvm_tail[f"{name}#retry"] = jvm_probe(spark)' in body
    assert body.index("jvm_probe(spark)  # untimed") < body.index(
        "for name in HEADLINE:"
    )
    assert '"per_key_sec": jvm_tail' in body


def test_mc_probe_task_is_deterministic_input_and_bounded():
    """The probe must time the SAME work every call (comparability), and
    one slot must be cheap enough that a per-key probe adds negligible
    bench wall (≲0.5 s per slot even on a degraded box)."""
    src = open(os.path.join(_ROOT, "bench.py")).read()
    fn = src.split("def _mc_probe_task")[1].split("\ndef ")[0]
    for banned in ("import random", "default_rng", "getloadavg", "urandom"):
        assert banned not in fn, banned
    sec = bench._mc_probe_task(0)
    # loose upper bound: the probe is ~30 ms on this box but the test must
    # not fail on a degraded/slow host where bench.py itself still works
    assert 0.001 < sec < 10.0, sec
    # wide enough to provoke the collapse mode it detects (the r13 diag
    # evidence needed 24-way; an 8-way first cut stayed flat through a
    # 5-6x Spark-stage collapse), clamped to the box — and to hosts with
    # fewer than 8 CPUs, where MC_PROBE_WIDTH legitimately shrinks
    assert min(8, os.cpu_count() or 8) <= bench.MC_PROBE_WIDTH <= 32


def test_loadavg_read_precedes_bench_startup():
    """loadavg_before is the anchor-eligibility quietness signal; it must
    be read before the probe pool, the JVM and the registry imports, or
    the bench's own startup spike pollutes it (a box at 0.10 recorded
    1.07 when the read came after session startup)."""
    src = open(os.path.join(_ROOT, "bench.py")).read()
    body = src.split("def main")[1]
    read_at = body.index("load_before = [round(x, 2) for x in os.getloadavg()]")
    assert read_at < body.index("mp.Pool(MC_PROBE_WIDTH)")
    assert read_at < body.index('get_spark("dss-bench")')


def test_retry_pass_merges_mins_and_reruns_verdict():
    """Source pin for the second-chance pass: first-pass per-key
    violators are re-timed once, the min merges via min() semantics
    (a retry can only LOWER a min — a real regression re-times slow and
    stays violated), first-pass mins are preserved in the artifact, and
    the final verdict is computed AFTER the merge."""
    src = open(os.path.join(_ROOT, "bench.py")).read()
    body = src.split("def main")[1]
    # the retry loop runs off the FIRST verdict (messages unused — only
    # the post-merge verdict is enforced)...
    assert "_, first_table = per_key_verdict(" in body
    assert "first_pass_min[name] = side[name]" in body
    assert "_, retry_min, _ = timed(name)" in body
    # ...merges only downward...
    assert "if retry_min < side[name]:" in body
    assert "side[name] = retry_min" in body
    # ...and the ENFORCED verdict is computed after the merge
    assert body.index("first_table = per_key_verdict") < body.index(
        "pk_msgs, per_key_table = per_key_verdict"
    )
    # the artifact keeps the audit trail
    assert '"retried_keys": retried' in body
    assert '"first_pass_min_sec": first_pass_min' in body


def test_calibration_workload_is_deterministic_input():
    """The fingerprint must time the SAME work every run (no RNG, no
    wall-clock-dependent sizing) or cross-run comparisons are void; and
    it must be long enough that timer noise stays small."""
    sec = bench.calibration_workload()
    assert 0.02 < sec < 30.0, sec
    src = open(os.path.join(_ROOT, "bench.py")).read()
    fn = src.split("def calibration_workload")[1].split("\ndef ")[0]
    for banned in ("import random", "default_rng", "getloadavg", "urandom"):
        assert banned not in fn, banned


def test_anchor_artifacts_quietness_and_calibration_band():
    """r12 advisor (bench.py:115): 'quiet box' rested only on
    loadavg < 2.0, which a moderately loaded run could satisfy — so a
    loaded run could become an anchor basis unchallenged. From r13 on,
    every artifact eligible to mint anchors must carry the STRONGER
    signal: 1-min loadavg well under 1, the pure-CPU calibration
    fingerprint (so the run pins which box speed phase it was recorded
    in), cross-run calibration spread within 12% (all runs from ONE
    phase — the r12 lesson: minning anchors across different phases
    plants spurious 2x trips), and cross-run per-key spread under 1.6x
    (a loaded or phase-split trio cannot average itself into the
    basis). The r12 trio predates the calibration field and stays
    grandfathered under its own committed loadavg<2.0 + phase
    re-timing evidence (bench.py r12 notes)."""
    named = _quiet_artifacts("bench_quiet_r13*_run*.json")
    assert len(named) >= 3, "r13 anchor basis needs >= 3 quiet runs"
    # group by trio (bench_quiet_<era>_runN.json): spread bands apply
    # WITHIN a trio — each trio must come from one box phase; ACROSS
    # trios the calibration fingerprint is the adjudicator, not a band
    trios: dict[str, list[dict]] = {}
    for name, a in named:
        trios.setdefault(name.rsplit("_run", 1)[0], []).append(a)
    for era, runs in trios.items():
        assert len(runs) >= 3, era
        cals = []
        for a in runs:
            assert a["loadavg_before"][0] < 1.0, a["loadavg_before"]
            assert a["guard"]["loaded_box"] is False
            assert isinstance(a.get("calibration_sec"), float)
            cals.append(a["calibration_sec"])
        assert max(cals) / min(cals) <= 1.12, (era, cals)
        per_key: dict[str, list[float]] = {}
        for a in runs:
            for k, v in {**a["queries_min"],
                         **a["extended_queries_min"]}.items():
                per_key.setdefault(k, []).append(v)
        for k, vs in per_key.items():
            assert len(vs) == len(runs), (era, k)
            assert max(vs) / min(vs) <= 1.6, (era, k, vs)
