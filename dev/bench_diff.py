#!/usr/bin/env python3
"""Cross-round bench regression diff.

Usage: python3 dev/bench_diff.py <old_detail.json> <new_detail.json> [ratio]
       python3 dev/bench_diff.py --counters <old_detail.json> <new_detail.json>

Each input is a BENCH_detail.json written by graft.Bench (one JSON object
with a "queries" per-query seconds map; BENCH_r*.json round files with the
same shape also work). Flags every query whose new best-of-N time exceeds
`ratio` (default 1.5) times its old time, every newly-failed query (-1),
and summarizes adds/removes. Exit code 1 if any regression or new failure.

Sub-100ms queries are exempt from the ratio flag: at that grain the
scheduler noise floor dominates and a 2x on 40 ms is not a regression.

When both files carry per-entry "counters" (graft.Bench writes, per entry
and section, each run's jobs, stages, tasks, shuffle-write bytes and
observed-metric misses), it also lists the entries whose jobs, stages,
tasks or shuffle-write bytes differ between the files, and, separately,
those that differ between runs within one file. These counts do not depend
on the box's speed; they do not change the exit code.

--counters prints only that counter report, with no timing rows; it exits
1 when either file has no "counters".
"""
import json, re, sys

FLOOR_SEC = 0.1

def load(path):
    """Accept BENCH_detail.json (one object with a full "queries" map) or a
    driver BENCH_r*.json whose "tail" string embeds per-family chunk lines
    (possibly truncated at the head) — merge whatever survived."""
    with open(path) as f:
        d = json.load(f)
    q = dict(d.get("queries") or {})
    tail = d.get("tail", "")
    for m in re.finditer(r'"queries":(\{[^{}]*\})', tail):
        try:
            q.update(json.loads(m.group(1)))
        except json.JSONDecodeError:
            pass  # a chunk line cut mid-map by the tail budget
    return q, d

COUNTED = ("jobs", "stages", "tasks", "shuffle_write_bytes")

def counter_values(counters):
    """(entry, "section.counter", per-run values) for each counted value."""
    for name, sections in sorted(counters.items()):
        for section, cs in sorted(sections.items()):
            for c in COUNTED:
                if c in cs:
                    yield name, f"{section}.{c}", cs[c]

def report_counters(old, new):
    varying = [(p, n, k, v) for p, d in (("old", old), ("new", new))
               for n, k, v in counter_values(d) if len(set(v)) > 1]
    old_v = {(n, k): v for n, k, v in counter_values(old)}
    changed = [(n, k, old_v[(n, k)], v) for n, k, v in counter_values(new)
               if (n, k) in old_v and set(old_v[(n, k)]) != set(v)]
    print(f"counters: {len(changed)} differ between the files, "
          f"{len(varying)} vary between runs within a file")
    for n, k, a, b in changed:
        print(f"COUNTS {n} {k}: {a} -> {b}")
    for p, n, k, v in varying:
        print(f"varies ({p}) {n} {k}: {v}")

def main(old_path, new_path, ratio=1.5):
    old, old_meta = load(old_path)
    new, new_meta = load(new_path)
    regressions, new_fails, improved = [], [], []
    for name, t_new in sorted(new.items()):
        t_old = old.get(name)
        if t_new == -1:
            if t_old != -1:
                new_fails.append(name)
            continue
        if t_old is None or t_old <= 0:
            continue
        if t_new > t_old * ratio and t_new >= FLOOR_SEC:
            regressions.append((name, t_old, t_new, t_new / t_old))
        elif t_old > t_new * ratio and t_old >= FLOOR_SEC:
            improved.append((name, t_old, t_new))
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    tot_old = sum(v for v in old.values() if v > 0)
    tot_new = sum(v for v in new.values() if v > 0)
    print(f"old: {len(old)} queries {tot_old:.1f}s   "
          f"new: {len(new)} queries {tot_new:.1f}s")
    if added:
        t_add = sum(new[q] for q in added if new[q] > 0)
        print(f"added ({len(added)}, {t_add:.1f}s): {', '.join(added)}")
    if removed:
        print(f"removed ({len(removed)}): {', '.join(removed)}")
    for name in new_fails:
        print(f"NEWLY FAILED {name}")
    for name, a, b, r in sorted(regressions, key=lambda x: -x[3]):
        print(f"REGRESSION {name}: {a:.3f}s -> {b:.3f}s ({r:.2f}x)")
    for name, a, b in sorted(improved, key=lambda x: x[1] - x[2]):
        print(f"improved   {name}: {a:.3f}s -> {b:.3f}s")
    if not regressions and not new_fails:
        print("no regressions")
    if old_meta.get("counters") and new_meta.get("counters"):
        report_counters(old_meta["counters"], new_meta["counters"])
    return 1 if (regressions or new_fails) else 0

def counters_only(old_path, new_path):
    old, new = (load(p)[1].get("counters") for p in (old_path, new_path))
    if not old or not new:
        print("counters: missing in " + " and ".join(
            p for p, c in ((old_path, old), (new_path, new)) if not c))
        return 1
    report_counters(old, new)
    return 0

if __name__ == "__main__":
    if sys.argv[1] == "--counters":
        sys.exit(counters_only(sys.argv[2], sys.argv[3]))
    r = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    sys.exit(main(sys.argv[1], sys.argv[2], r))
