"""bench.py contract smoke — the driver records BENCH_r{N}.json from
bench.py's stdout; a crash there costs the round its performance
evidence (it happened in round 2). Run the real script as a
subprocess at the smallest SF and validate the two-line contract
(r10): a detail line (spread/phases), then a compact headline line
LAST that must fit the driver wrapper's 2000-char tail capture —
r9's single fat line truncated there and the driver's artifact
refresh recorded "parsed": null."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_emits_contract_json():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
        # the smoke validates the contract, not timings — never wait
        # for a quiet machine here
        SPARK_GRAFT_BENCH_MAX_WAIT_S="0",
        # run the demoted v2 session-conf control too (r11 verdict item
        # 5: default bench runs drop it): the smoke asserts the full
        # leg surface, and the default mix is a strict subset of this
        # one so its final line is shorter than the one length-checked
        # here
        SPARK_GRAFT_BENCH_CONTROL="1",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")]
    assert len(lines) == 2, out.stdout[-2000:]
    detail = json.loads(lines[0])
    payload = json.loads(lines[1])
    assert payload["metric"] == "headline_query_mix_total"
    assert detail["metric"] == "headline_query_mix_detail"
    # the final line is what the driver's ~2000-char tail capture must
    # parse (window includes the trailing newline); a driver-style
    # tail of the whole stdout must recover it
    assert len(lines[1]) + 1 <= 2000, len(lines[1])
    tail = out.stdout[-2000:]
    recovered = [
        ln for ln in tail.splitlines()
        if ln.startswith('{"metric": "headline_query_mix_total"')
    ]
    assert recovered and json.loads(recovered[-1]) == payload
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.001
    assert isinstance(payload["value"], float)
    assert payload["queries"] and all(
        isinstance(v, float) for v in payload["queries"].values()
    )
    assert {"load_1m", "comparable"} <= set(payload)
    # r9: per-query noise-floor fields — 3 timed passes, min<=med<=max
    # per query, and the headline per-query number IS the median
    assert payload["timed_passes"] == 3
    assert set(detail["spread"]) == set(payload["queries"])
    for name, sp in detail["spread"].items():
        assert sp["min"] <= sp["med"] <= sp["max"], (name, sp)
        assert payload["queries"][name] == sp["med"], (name, sp)
    # the rollup lifecycle decomposition names where its seconds go,
    # including the r9 setup phase (r8-advisor: serve must not absorb
    # the builder's pre-maintain setup) and the r10 commit-I/O axis
    # (summed stateOperators commitTimeMs — separates an fsync regime
    # shift from a code regression); the compact headline carries the
    # same commit_io_s numbers for driver-side refreshes
    for leg in (
        "rollup_maintain_serve_v2",
        "rollup_maintain_serve_v2_sized",
        "rollup_maintain_serve_v2_auto",
    ):
        ph = detail["phases"][leg]
        assert {
            "setup",
            "maintain",
            "compact",
            "serve",
            "commit_io_s",
            "state_stores",
        } <= set(ph)
        # commitTimeMs is an integer-ms counter per store per batch;
        # the sized/auto legs' few stores could in principle all
        # report 0 on sub-ms storage, so only require non-negative
        # there — the 32-store default leg's 256 commits per drain are
        # reliably measurable on this container (r9 probe: ~80 s)
        assert ph["commit_io_s"] >= 0, (leg, ph)
        assert payload["commit_io_s"][leg] == ph["commit_io_s"], (leg, ph)
        # r11: each lifecycle leg declares its ROLE in the artifact
        # itself (which number is the shipped default, which is the
        # pinned session-conf control) — the r10 verdict's labeling nit
        assert leg in detail["roles"], detail.get("roles")
        # r12 (r11 verdict item 1a): the OBSERVED store count is
        # stamped per leg, so a sizing divergence is diagnosable from
        # the artifact alone
        assert ph["state_stores"] >= 1, (leg, ph)
    assert detail["phases"]["rollup_maintain_serve_v2"]["commit_io_s"] > 0
    assert "control" in detail["roles"]["rollup_maintain_serve_v2"]
    assert "default" in detail["roles"]["rollup_maintain_serve_v2_auto"]
    # the hand-sized leg runs exactly its 8 stores; the session-conf
    # control runs the session's stateful shuffle (== 8 too at this
    # smoke's SPARK_GRAFT_CPUS=8 session, wider on the 32-way bench box)
    assert detail["phases"]["rollup_maintain_serve_v2_sized"]["state_stores"] == 8
    assert (
        detail["phases"]["rollup_maintain_serve_v2"]["state_stores"]
        >= detail["phases"]["rollup_maintain_serve_v2_sized"]["state_stores"]
    )


def test_merge_bench_lines_recovery_shapes():
    """The merge behind the driver-tail recovery: headline+detail
    merge, headline-only tails, mid-object cut detail lines, and the
    no-headline failure mode."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from check_bench_pins import merge_bench_lines

    detail = json.dumps(
        {
            "metric": "headline_query_mix_detail",
            "spread": {"q1": {"min": 1, "med": 2, "max": 3}},
            "phases": {"leg": {"maintain": 1.0, "commit_io_s": 0.5}},
        }
    )
    head = json.dumps(
        {"metric": "headline_query_mix_total", "value": 2.0, "queries": {"q1": 2}}
    )

    merged = merge_bench_lines([detail, head])
    assert merged["value"] == 2.0
    assert merged["spread"]["q1"]["med"] == 2
    assert merged["phases"]["leg"]["commit_io_s"] == 0.5

    # headline only (the common driver-tail case): no spread/phases keys
    only = merge_bench_lines(["some noise", head])
    assert only["value"] == 2.0 and "spread" not in only

    # detail cut mid-object by the tail window: skipped, not a crash
    cut = merge_bench_lines([detail[:80], head])
    assert cut["value"] == 2.0 and "spread" not in cut

    # headline cut mid-object, earlier intact headline recovered
    assert merge_bench_lines([head, head[:40]])["value"] == 2.0

    # nothing parseable -> None (checker prints its VIOLATION path)
    assert merge_bench_lines([detail, '{"metric": "headline_query_mix_total'] ) is None

    # r11: the detail line's roles ride the merge like spread/phases
    detail_roles = json.dumps(
        {
            "metric": "headline_query_mix_detail",
            "spread": {},
            "phases": {},
            "roles": {"leg": "shipped default"},
        }
    )
    assert merge_bench_lines([detail_roles, head])["roles"] == {
        "leg": "shipped default"
    }


def test_load_artifact_shapes(tmp_path):
    """The four artifact shapes the checker accepts: merged object,
    driver capture with a recoverable tail, driver capture
    whose tail is unrecoverable but whose own parse succeeded, and
    ``python bench.py``'s raw two-line stdout — and the
    genuinely-empty pre-r10 case."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from check_bench_pins import load_artifact

    head = {"metric": "headline_query_mix_total", "value": 1.0, "queries": {"q": 1.0}}
    merged = tmp_path / "merged.json"
    merged.write_text(json.dumps(head))
    assert load_artifact(str(merged))["queries"] == {"q": 1.0}

    tailed = tmp_path / "tailed.json"
    tailed.write_text(json.dumps({"tail": "noise\n" + json.dumps(head) + "\n"}))
    assert load_artifact(str(tailed))["value"] == 1.0

    parsed_only = tmp_path / "parsed.json"
    parsed_only.write_text(
        json.dumps({"tail": '{"metric": "headline_query_mix_tot', "parsed": head})
    )
    assert load_artifact(str(parsed_only))["value"] == 1.0

    dead = tmp_path / "dead.json"
    dead.write_text(
        json.dumps({"tail": '{"metric": "headline_query_mix_tot', "parsed": None})
    )
    assert load_artifact(str(dead)) is None

    # raw stdout redirected to a file: detail line, then headline
    detail = {
        "metric": "headline_query_mix_detail",
        "spread": {"q": {"min": 0.9, "med": 1.0, "max": 1.1}},
        "phases": {},
    }
    raw = tmp_path / "raw.json"
    raw.write_text(json.dumps(detail) + "\n" + json.dumps(head) + "\n")
    got = load_artifact(str(raw))
    assert got["value"] == 1.0 and got["spread"] == detail["spread"]


def test_check_exit_codes(tmp_path, capsys):
    """The pin-contract gate: 0 for a comparable in-bar artifact, 1 for
    an over-2x pin, a missing pin, or a not-comparable stamp."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from check_bench_pins import check

    base = tmp_path / "BASE.json"
    base.write_text(
        json.dumps({"total": 2.0, "sf": 0.1, "queries": {"q1": 1.0, "q2": 1.0}})
    )

    def art(name, queries, comparable=True, sf=0.1):
        p = tmp_path / name
        p.write_text(
            json.dumps(
                {
                    "metric": "headline_query_mix_total",
                    "value": sum(queries.values()),
                    "queries": queries,
                    "sf": sf,
                    "comparable": comparable,
                    "load_1m": 0.1,
                }
            )
        )
        return str(p)

    good = art("BENCH_r02.json", {"q1": 1.1, "q2": 0.9})
    assert check(str(base), good) == 0
    assert "pin contract: OK" in capsys.readouterr().out

    # a single pin over 2x fails even though the sum is in-bar
    assert check(str(base), art("BENCH_r03.json", {"q1": 2.5, "q2": 0.1})) == 1
    # a missing pin fails
    assert check(str(base), art("BENCH_r04.json", {"q1": 1.0})) == 1
    # a not-comparable stamp fails regardless of numbers
    assert (
        check(str(base), art("BENCH_r05.json", {"q1": 1.0, "q2": 1.0}, False))
        == 1
    )
    # an artifact at another scale factor fails: its times mean nothing
    # against the pinned sf's bars
    assert check(str(base), art("BENCH_r06.json", {"q1": 0.1, "q2": 0.1}, sf=0.01)) == 1
