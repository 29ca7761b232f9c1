#!/usr/bin/env python3
"""Dev-only harness (NOT part of the library): bench drift normalizer.

Host drift on this box is large and UNIFORM (r6->r7 judging measured a
flat ~1.55x median inflation on queries untouched for two rounds, and
1.29x between same-code runs hours apart), so raw per-query ratios
between two bench artifacts cannot distinguish a code regression from
environment swing. This tool ratios every shared query against the
median inflation of a pinned SENTINEL set (queries stable since round
5 that no round has touched), so only the residual — the part a host
cannot explain — is reported as regression/improvement. When the
sentinel drift and the raw comparable-total ratio point in opposite
directions (a suite-wide change moved the sentinels too), the ratios are
reported raw instead; the `normalization` line says which was used.

When both artifacts carry Bench's per-query Spark job counts (`"jobs"`),
the job-count deltas print first: at a fixed scale factor and core count
they do not drift with the host, so they show what changed before any
wall-time ratio is read.

Usage:
  python3 tools/bench_compare.py OLD NEW [--threshold 1.5]

OLD/NEW each accept either a raw Bench stdout capture (the single JSON
line with "queries":{...}) or a driver BENCH_r{N}.json wrapper whose
`tail` embeds that line, possibly truncated mid-dict — a partial first
entry is dropped by the per-key regex.
"""
import json
import re
import sys

# untouched production queries since round 5 — pure host-speed probes
SENTINELS = [
    "q_scan_filter_project", "q_string_funcs", "q_window_running",
    "q_token_stats", "q_unpivot", "q_semi_join", "q_sliding_window",
    "q_date_funcs", "q_json_funcs", "q_window_rank_lag",
]

KV = re.compile(r'"(q_[a-z0-9_]+)":\s*([0-9][0-9.eE+-]*)')


DISC = re.compile(r'"discontinuities"\s*:\s*\{([^}]*)\}')
# a "jobs" object (possibly cut off by a truncated tail): its integer
# entries would otherwise read as seconds
JOBS = re.compile(r'"jobs"\s*:\s*\{([^}]*)\}?')
DISC_KEY = re.compile(r'"(q_[a-z0-9_]+)"\s*:')


def load_discontinuities(raw):
    """Query names the artifact itself declares definition-discontinuous
    (the op changed what it measures in some round) — deltas on them are
    apples-to-oranges, reported separately rather than flagged. The
    brace-free regex is the FALLBACK for truncated/raw captures; a valid
    JSON artifact is parsed properly (a '}' inside a reason string would
    truncate the regex's view)."""
    m = DISC.search(raw)
    return set(DISC_KEY.findall(m.group(1))) if m else set()


def load_queries(path):
    """(seconds per query, discontinuous names, job counts per query)"""
    raw = open(path).read()
    disc = load_discontinuities(raw)
    try:
        doc = json.loads(raw)
        if isinstance(doc, dict):
            if isinstance(doc.get("discontinuities"), dict):
                disc = set(doc["discontinuities"])  # exact, not regex
            if isinstance(doc.get("queries"), dict):
                jobs = doc.get("jobs") if isinstance(doc.get("jobs"), dict) else {}
                return ({k: float(v) for k, v in doc["queries"].items()
                         if not isinstance(v, dict)}, disc,
                        {k: int(v) for k, v in jobs.items()})
            raw = str(doc.get("tail", "")) + raw  # driver wrapper
    except json.JSONDecodeError:
        pass  # raw stdout capture — scan it directly
    # keep the LAST occurrence of each key (reruns append; the final
    # pass is the one the summary line reports)
    jobs = {}
    for m in JOBS.finditer(raw):
        for k in KV.finditer(m.group(1)):
            jobs[k.group(1)] = int(float(k.group(2)))
    out = {}
    for m in KV.finditer(JOBS.sub("", raw)):
        out[m.group(1)] = float(m.group(2))
    # the discontinuities dict's own entries match KV only if numeric —
    # they are strings, so no cleanup needed
    return out, disc, jobs


def report_jobs(old, new):
    """Per-query job-count deltas; returns False when either side has none."""
    shared = sorted(set(old) & set(new))
    if not shared:
        return False
    moved = [(new[q] - old[q], q) for q in shared if new[q] != old[q]]
    tot_o = sum(old[q] for q in shared)
    tot_n = sum(new[q] for q in shared)
    print(f"spark jobs     : {tot_o} -> {tot_n} over {len(shared)} queries "
          f"({len(moved)} changed)")
    for d, q in sorted(moved, key=lambda m: (-abs(m[0]), m[1])):
        print(f"  {q:<32} {old[q]:5d} -> {new[q]:5d}  ({d:+d})")
    print()
    return True


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    thr = 1.5
    for a in sys.argv[1:]:
        if a.startswith("--threshold"):
            thr = float(a.split("=", 1)[1] if "=" in a
                        else sys.argv[sys.argv.index(a) + 1])
    if len(args) != 2:
        sys.exit(__doc__)
    (old, disc_o, jobs_o), (new, disc_n, jobs_n) = (load_queries(args[0]),
                                                    load_queries(args[1]))
    disc = disc_o | disc_n
    report_jobs(jobs_o, jobs_n)
    shared = sorted(set(old) & set(new))
    if not shared:
        sys.exit("no shared queries between the two artifacts")
    sent = [s for s in SENTINELS if s in old and s in new and old[s] > 0]
    if len(sent) < 3:
        print("WARNING: <3 sentinels visible in both artifacts — "
              "falling back to the median over ALL shared queries "
              "(weaker: a broad real regression would hide itself)")
        sent = [q for q in shared if old[q] > 0]
    drift = median([new[s] / old[s] for s in sent])
    print(f"shared queries : {len(shared)}")
    print(f"sentinels used : {len(sent)} -> host drift x{drift:.3f} "
          f"(median {', '.join(sent[:4])}{', ...' if len(sent) > 4 else ''})")
    # a suite-wide change (session config, a shared primitive) moves the
    # sentinels with everything else, so the sentinel drift is no longer
    # host speed: when it and the raw comparable-total ratio point in
    # opposite directions, trust neither and report raw ratios
    comp_pos = [q for q in shared if q not in disc and old[q] > 0]
    raw = (sum(new[q] for q in comp_pos) / sum(old[q] for q in comp_pos)
           if comp_pos else 1.0)
    if (drift - 1.0) * (raw - 1.0) < 0:
        print(f"normalization  : NONE, raw totals (sentinel drift "
              f"x{drift:.3f} and raw comparable total x{raw:.3f} disagree "
              f"in direction)")
        drift = 1.0
    else:
        print(f"normalization  : sentinel drift x{drift:.3f} (raw "
              f"comparable total x{raw:.3f} agrees in direction)")
    print(f"threshold      : x{thr} AFTER normalization\n")
    rows, disc_rows = [], []
    for q in shared:
        if old[q] <= 0:
            continue
        norm = (new[q] / old[q]) / drift
        (disc_rows if q in disc else rows).append((norm, q, old[q], new[q]))
    regressions = sorted((r for r in rows if r[0] >= thr), reverse=True)
    improvements = sorted(r for r in rows if r[0] <= 1.0 / thr)
    for title, rs in (("REGRESSIONS (normalized)", regressions),
                      ("improvements (normalized)", improvements)):
        print(f"{title}: {len(rs)}")
        for norm, q, o, n in rs:
            print(f"  {q:<32} x{norm:5.2f}   {o:8.3f}s -> {n:8.3f}s")
        print()
    flagged = [r for r in disc_rows if r[0] >= thr or r[0] <= 1.0 / thr]
    if flagged:
        print(f"definition-discontinuous (NOT regressions — the artifact "
              f"declares these ops changed what they measure): "
              f"{len(flagged)}")
        for norm, q, o, n in sorted(flagged, reverse=True):
            print(f"  {q:<32} x{norm:5.2f}   {o:8.3f}s -> {n:8.3f}s")
        print()
    # headline total over COMPARABLE queries only — a declared definition
    # change (e.g. a 10x hash-cost seam) must not silently shift the
    # number the tool refuses to interpret per-query; the discontinuous
    # subtotal prints separately
    comp = [q for q in shared if q not in disc]
    if comp:
        tot_o = sum(old[q] for q in comp)
        tot_n = sum(new[q] for q in comp)
        print(f"comparable total ({len(comp)} queries): "
              f"{tot_o:.1f}s -> {tot_n:.1f}s "
              f"(raw x{tot_n / tot_o:.2f}, normalized "
              f"x{tot_n / tot_o / drift:.2f})")
    dshared = [q for q in shared if q in disc]
    if dshared:
        d_o = sum(old[q] for q in dshared)
        d_n = sum(new[q] for q in dshared)
        print(f"discontinuous subtotal ({len(dshared)} queries, "
              f"not comparable): {d_o:.1f}s -> {d_n:.1f}s")
    tot_o = sum(old[q] for q in shared)
    tot_n = sum(new[q] for q in shared)
    print(f"shared total   : {tot_o:.1f}s -> {tot_n:.1f}s "
          f"(raw x{tot_n / tot_o:.2f}, normalized "
          f"x{tot_n / tot_o / drift:.2f})")


if __name__ == "__main__":
    main()
