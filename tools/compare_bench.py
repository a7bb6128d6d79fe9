"""Compare two bench.py JSON lines (e.g. BENCH_r1.json vs BENCH_r2.json).

Usage: python tools/compare_bench.py <old.json> <new.json> [threshold_pct]
       python tools/compare_bench.py <old> <new> [threshold_pct] --out FILE

``--out FILE`` additionally writes the full report (probe classification +
per-query table) to FILE — the mechanism that generates artifacts/BENCH_DELTA_r{N}.txt
directly from the tool, so the host-noise argument is mechanical rather than
hand-written.

Prints per-query deltas sorted by regression size and exits 1 if any
query regressed more than threshold_pct (default 25%) — the cross-round
performance gate.

Host-noise classification: when both files carry the fixed-query ``probe``
block (bench.py best-of-3 on corpus_tpch_q01, whose code and data never
change), a probe move beyond the threshold means the HOST shifted, not the
code — per-query regressions up to the probe's ratio are then reclassified
as host-noise and do not fail the gate (only the residual beyond the probe
ratio counts).
"""

from __future__ import annotations

import json
import statistics
import sys


def main() -> int:
    args = sys.argv[1:]
    out_file = None
    if "--out" in args:
        i = args.index("--out")
        out_file = args[i + 1]
        args = args[:i] + args[i + 2 :]
    if len(args) < 2:
        print(__doc__)
        return 2
    lines: list[str] = []

    def emit(msg: str) -> None:
        lines.append(msg)
        try:
            print(msg)
        except BrokenPipeError:
            pass  # piped through head — keep building the --out report

    def load(path: str) -> dict:
        # bench emitted one-line files historically; BENCH_LOCAL_* files
        # are now pretty-printed JSON — accept both.
        text = open(path).read().strip()
        try:
            return json.loads(text)
        except json.JSONDecodeError:
            return json.loads(text.splitlines()[-1])

    old = load(args[0])
    new = load(args[1])
    threshold = float(args[2]) if len(args) > 2 else 25.0
    emit(f"# bench delta: {args[0]} -> {args[1]} (threshold {threshold}%)")
    # Compact bench lines (the stdout format: scalar probe + top-10-slowest
    # queries + a "full" pointer) would silently gate only 10 queries and
    # crash the probe block below — insist on the BENCH_LOCAL sidecar.
    for label, payload, path in (("old", old, args[0]), ("new", new, args[1])):
        if "full" in payload or (
            "probe" in payload and not isinstance(payload["probe"], dict)
        ):
            emit(
                f"ERROR: {label} file {path} is a compact bench line "
                f"(scalar probe / top-10 queries only); pass its full "
                f"sidecar instead: {payload.get('full', 'BENCH_LOCAL_*.json')}"
            )
            return 2
    # Round-tag hygiene: the code-touched set is a per-round declaration
    # (bench.py CODE_TOUCHED_ROUND); if the newer artifact's filename names
    # a round that differs from its embedded tag, the set is stale and the
    # code-stable line below is shaped by the WRONG exclusions — warn.
    import re as _re

    tag = new.get("code_touched_round")
    m = _re.search(r"_r(\d+)", args[1])
    if tag and m and tag.lstrip("r").lstrip("0") != m.group(1).lstrip("0"):
        emit(
            f"WARNING: newer artifact looks like round r{m.group(1)} but its "
            f"code_touched set is tagged {tag} — CODE_TOUCHED_THIS_ROUND in "
            f"bench.py was not reset; the code-stable line excludes the "
            f"wrong entries"
        )
    # probe-based host-noise ratio: how much the fixed, code-stable query
    # moved between the two runs (1.0 = no host shift / probe absent)
    probe_ratio = 1.0
    p_old, p_new = old.get("probe"), new.get("probe")
    # Mid-session drift (round-10+): bench brackets the headline loop with
    # the probe BEFORE and AFTER. A big within-session ratio means the host
    # shifted while entries were being timed — single-entry outliers in
    # that session are then host artifacts, not regressions (the r9 q72
    # lesson, made mechanical).
    for label, p in (("old", p_old), ("new", p_new)):
        if p and p.get("best") and p.get("best_after"):
            drift = p["best_after"] / p["best"]
            if max(drift, 1 / drift) > 1.5:
                emit(
                    f"WARNING: {label} run shows x{drift:.2f} mid-session "
                    f"probe drift (pre {p['best']} -> post {p['best_after']} "
                    f"sec) — per-query numbers from that session carry "
                    f"host noise beyond the pre-bracket ratio"
                )
    if (
        p_old
        and p_new
        and p_old.get("query") == p_new.get("query")
        and p_old.get("best")
    ):
        observed = max(1.0, p_new["best"] / p_old["best"])
        # When both sessions carry the post-bracket, let the discount see
        # the worst same-position bracket ratio — a new session that ENDED
        # slow inflates its late entries even if it started in family.
        if p_old.get("best_after") and p_new.get("best_after"):
            observed = max(
                observed, p_new["best_after"] / p_old["best_after"]
            )
        # The discount only arms when the probe itself moved beyond the
        # threshold (a genuine host shift); ordinary probe wobble must not
        # silently raise the effective regression gate for every query.
        if observed > 1.0 + threshold / 100.0:
            probe_ratio = observed
            emit(
                f"probe {p_new['query']}: {p_old['best']} -> {p_new['best']} sec "
                f"(x{probe_ratio:.2f}) — host shifted; regressions up to "
                f"x{probe_ratio:.2f} classified as host-noise"
            )
        else:
            emit(
                f"probe {p_new['query']}: {p_old['best']} -> {p_new['best']} sec "
                f"(x{observed:.2f}) — within threshold, no host-noise discount"
            )
    rows = []
    for q, t_new in new.get("queries", {}).items():
        t_old = old.get("queries", {}).get(q)
        if t_old is None or t_old == 0:
            rows.append((None, q, t_old, t_new))
        else:
            rows.append(((t_new - t_old) / t_old * 100.0, q, t_old, t_new))
    rows.sort(key=lambda r: (r[0] is None, -(r[0] or 0)))
    # Secondary host-shift indicator (REPORTED, never auto-discounted): the
    # median time ratio over the verbatim corpus_* entries, which are
    # code-stable by definition (byte-identical SQL, fixed fixtures). A
    # scan-agg probe misses shuffle-heavy contention; the corpus median
    # sees it. A median well above 1.0 with a flat probe means the host
    # moved for shuffle-bound work — read the per-query rows accordingly.
    corpus_ratios = sorted(
        t_new / t_old
        for pct, q, t_old, t_new in rows
        if pct is not None and q.startswith("corpus_") and t_old
    )
    if corpus_ratios:
        med = statistics.median(corpus_ratios)
        emit(
            f"corpus-median ratio (code-stable entries, secondary host "
            f"signal): x{med:.2f} over {len(corpus_ratios)} queries"
        )
    regressed = []
    for pct, q, t_old, t_new in rows:
        tag = "NEW " if pct is None else f"{pct:+7.1f}%"
        noise = ""
        if pct is not None and pct > threshold:
            # residual regression after discounting the probe's host shift
            residual_pct = ((t_new / probe_ratio) - t_old) / t_old * 100.0
            if residual_pct > threshold:
                regressed.append(q)
            else:
                noise = "  [host-noise]"
        emit(
            f"{tag}  {q:40s} "
            f"{t_old if t_old is not None else '-':>8} -> {t_new:>8}{noise}"
        )
    emit(
        f"total: {old.get('value')} -> {new.get('value')} sec"
        f"  ({len(regressed)} queries regressed > {threshold}%)"
    )
    # First-class code-stable comparison (round-9+): the total over
    # entries untouched this round, recomputed against the OLD run's
    # timings for the same key set so both sides exclude identical
    # entries. Falls back gracefully when either side predates the field.
    touched = set(new.get("code_touched_this_round") or [])
    if "code_stable_total_sec" in new:
        stable_keys = [
            q
            for q in new.get("queries", {})
            if q not in touched and q in old.get("queries", {})
        ]
        old_stable = round(sum(old["queries"][q] for q in stable_keys), 3)
        new_stable = round(sum(new["queries"][q] for q in stable_keys), 3)
        emit(
            f"code-stable subset ({len(stable_keys)} shared entries, "
            f"excl. {sorted(touched)}): {old_stable} -> {new_stable} sec"
            f" (x{new_stable / old_stable:.2f})"
            if old_stable
            else "code-stable subset: no shared entries"
        )
    if out_file:
        with open(out_file, "w") as f:
            f.write("\n".join(lines) + "\n")
    return 1 if regressed else 0


if __name__ == "__main__":
    raise SystemExit(main())
