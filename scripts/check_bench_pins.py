#!/usr/bin/env python
"""Executable form of the bench pin contract (BENCH_BASELINE.json).

The contract, stated in BENCH_BASELINE.json's comment and enforced by
eye in every round's verdict until now: each of the 13 pinned query
names must appear in the round's bench artifact running its pinned
computation, no pinned query may exceed 2x its pinned time, and the
pinned-sum total must stay <= 2x the pinned total.  Round 7 broke the
contract silently (stream_session_30m grew to 3 legs under the pinned
name); this checker makes the numeric half of the contract a command:

    python scripts/check_bench_pins.py BENCH_r11.json [BASELINE.json]

Exit 0 = every pinned name present, individually under 2x, sum under
2x, and the artifact stamped comparable (load-gated by bench.py).
Exit 1 = any violation; each is printed.  Since round 9 the artifact's
per-query numbers are the MEDIAN of 3 back-to-back timed passes and
carry min/med/max spread fields (r8 measured a 20% same-head
single-pass noise floor); the checker prints each pin's spread and the
worst relative spread so the reader sees the achieved noise floor next
to the ratios.  Since round 10 bench.py emits a compact headline line
(last, <= 2000 chars so the driver's tail capture parses) plus a
detail line (spread/phases); the checker accepts the merged
artifact, the compact headline alone, a driver tail capture, or the
raw two-line stdout of ``python bench.py > artifact.json``, and
prints each lifecycle leg's maintain WALL next to its summed
state-store commit I/O — the fsync axis that separates a machine I/O
regime shift from a code regression — plus (r11) the leg's declared
ROLE, so the artifact itself says which lifecycle number is the
shipped default and which is the pinned session-conf control.

What this CANNOT catch is a pinned name silently re-routed to a
different computation — that half of the contract lives in bench.py
(EXTRA_BUILDERS pins the verbatim builder per name, enriched registry
forms are timed under *_full names) and is what code review must keep
holding.
"""

from __future__ import annotations

import json
import sys


def merge_bench_lines(lines: list[str]) -> dict | None:
    """Recover bench.py's artifact from raw stdout lines: the compact
    headline (metric=headline_query_mix_total, the LAST such line) with
    the detail line's spread/phases/roles merged in when present.
    Returns None when no parseable headline exists."""
    headline = None
    detail = None
    for ln in reversed([ln.strip() for ln in lines]):
        if not ln.startswith('{"metric"'):
            continue
        try:
            obj = json.loads(ln)
        except ValueError:
            # a tail window can cut a line mid-object; skip, keep
            # scanning earlier lines instead of crashing the checker
            continue
        if headline is None and obj.get("metric") == "headline_query_mix_total":
            headline = obj
        elif detail is None and obj.get("metric") == "headline_query_mix_detail":
            detail = obj
    if headline is not None and detail is not None:
        headline.setdefault("spread", detail.get("spread", {}))
        headline.setdefault("phases", detail.get("phases", {}))
        if "roles" in detail:
            headline.setdefault("roles", detail["roles"])
    return headline


def load_artifact(path: str) -> dict | None:
    """An artifact in any of its four shapes — merged object, compact
    headline alone, a driver capture whose bench line lives in a
    ``tail`` field, or ``python bench.py``'s raw stdout (detail line,
    then headline) — normalized to the one-object form, or None when
    nothing parseable is found."""
    with open(path) as f:
        text = f.read()
    try:
        run = json.loads(text)
    except ValueError:
        return merge_bench_lines(text.splitlines())
    if "queries" not in run and "tail" in run:
        recovered = merge_bench_lines(run["tail"].replace("\r", "\n").splitlines())
        if recovered is not None:
            return recovered
        # driver artifacts carry their own parse attempt; pre-r10 tails
        # (single fat line, truncated mid-object) have parsed=null AND
        # an unrecoverable tail — then there is genuinely nothing
        parsed = run.get("parsed")
        return parsed if isinstance(parsed, dict) and "queries" in parsed else None
    return run if "queries" in run else None


def check(baseline_path: str, bench_path: str) -> int:
    with open(baseline_path) as f:
        base = json.load(f)
    run = load_artifact(bench_path)
    if run is None:
        print(f"VIOLATION: no bench JSON line found in {bench_path}")
        return 1

    pins = base["queries"]
    times = run.get("queries", {})
    spread = run.get("spread", {})  # r9 artifacts: per-query min/med/max
    problems = []

    if not run.get("comparable", False):
        problems.append(
            f"artifact not comparable (load_1m={run.get('load_1m')}): "
            "timings untrustworthy, re-run idle"
        )
    if run.get("sf") != base.get("sf"):
        problems.append(f"sf mismatch: run {run.get('sf')} vs pin {base.get('sf')}")

    pinned_sum = 0.0
    missing = 0
    rows = []
    worst_rel_spread = 0.0
    for name, pinned in sorted(pins.items()):
        got = times.get(name)
        if got is None:
            problems.append(f"pinned query missing from artifact: {name}")
            # count the missing pin at its pinned time so the printed
            # sum ratio stays a statement about the full pinned set
            # instead of silently comparing a subset against the bar
            # (the run fails regardless, via the violation above)
            pinned_sum += pinned
            missing += 1
            continue
        ratio = got / pinned
        pinned_sum += got
        sp = spread.get(name)
        rel = (sp["max"] - sp["min"]) / sp["med"] if sp and sp["med"] else None
        if rel is not None:
            worst_rel_spread = max(worst_rel_spread, rel)
        rows.append((name, pinned, got, ratio, sp, rel))
        if ratio > 2.0:
            problems.append(f"{name}: {got:.3f}s is {ratio:.2f}x its {pinned:.3f}s pin (bar 2x)")

    total_ratio = pinned_sum / base["total"] if pins else float("nan")
    if total_ratio > 2.0:
        problems.append(
            f"pinned sum {pinned_sum:.3f}s is {total_ratio:.2f}x the {base['total']:.3f}s pinned total (bar 2x)"
        )

    for name, pinned, got, ratio, sp, rel in rows:
        # rel is None when med == 0.0 (a sub-0.5ms query rounds to 0
        # at bench.py's 3-decimal resolution) — print the range alone
        spread_txt = (
            f"  [{sp['min']:.3f}-{sp['max']:.3f}"
            + (f", {rel * 100:3.0f}%]" if rel is not None else "]")
            if sp
            else ""
        )
        print(
            f"  {name:28s} {got:7.3f}s  pin {pinned:6.3f}s  {ratio:5.2f}x"
            f"{spread_txt}"
        )
    # Lifecycle legs: report the maintain WALL next to the summed
    # state-store commit I/O (r9 root cause: the maintain phase's
    # cross-process bimodality is fsync-latency modes — wall medians
    # 7.4/10.5 s at identical code). The two axes together make a
    # regression attributable mechanically: wall up + commit I/O up =
    # machine fsync regime; wall up + commit I/O flat = code. Since
    # r11 each leg also prints its declared ROLE from the artifact
    # (r10 verdict nit: with the library default now "auto", nothing
    # in the artifact said the pinned v2 leg is the session-conf
    # CONTROL, not the shipped configuration).
    phases = run.get("phases", {})
    commit_io = run.get("commit_io_s", {})
    roles = run.get("roles", {})
    legs = sorted(set(phases) | set(commit_io))
    for leg in legs:
        ph = phases.get(leg, {})
        cio = ph.get("commit_io_s", commit_io.get(leg))
        wall_txt = (
            f"maintain wall {ph['maintain']:.3f}s"
            if "maintain" in ph
            else "maintain wall n/a (headline-only artifact)"
        )
        cio_txt = f"state-commit I/O {cio:.3f}s" if cio is not None else "state-commit I/O n/a"
        # the observed store count rides the artifact; artifacts from
        # before the open-group estimator was removed (BENCH_r11-r16)
        # also carry the open-groups parameter it fed. Print both so
        # sizing divergence reads off one line
        sizing_txt = ""
        if "state_stores" in ph:
            sizing_txt = f", {ph['state_stores']} stores"
            if "open_groups" in ph:
                # present only for legs whose auto derivation consumed
                # the parameter (control/sized legs never resolve it)
                sizing_txt += f" (open_groups {ph['open_groups']})"
        role_txt = f"  [{roles[leg]}]" if leg in roles else ""
        print(f"  {leg:32s} {wall_txt}, {cio_txt}{sizing_txt}{role_txt}")

    missing_txt = f", {missing} missing counted at pin" if missing else ""
    if spread:
        spread_txt = (
            f", worst per-query spread {worst_rel_spread * 100:.0f}% of"
            f" median over {run.get('timed_passes')} passes"
        )
    elif run.get("timed_passes"):
        # headline-only artifact (driver tail that dropped the detail
        # line): the medians are still median-of-N — don't tell the
        # reader they carry the single-pass noise floor (r10 review)
        spread_txt = (
            f" (median of {run['timed_passes']} passes; spread fields on"
            " the detail line, not retained here)"
        )
    else:
        spread_txt = " (single-pass artifact: no spread fields)"
    print(
        f"pinned sum {pinned_sum:.3f}s = {total_ratio:.2f}x the {base['total']:.3f}s bar "
        f"({len(rows)}/{len(pins)} pins present{missing_txt}, "
        f"load_1m={run.get('load_1m')}{spread_txt})"
    )

    if problems:
        for p in problems:
            print(f"VIOLATION: {p}")
        return 1
    print("pin contract: OK")
    return 0


if __name__ == "__main__":
    if not 2 <= len(sys.argv) <= 3:
        sys.exit("usage: check_bench_pins.py BENCH_<tag>.json [BASELINE.json]")
    baseline = sys.argv[2] if len(sys.argv) > 2 else "BENCH_BASELINE.json"
    sys.exit(check(baseline, sys.argv[1]))
