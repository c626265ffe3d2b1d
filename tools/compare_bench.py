"""Diff two BENCH_FULL.json captures: job and stage counts gate, walls
inform.

Counts come from each capture's per-query ``profile`` (bench.py: the
jobs and stages of the build and of the exec, read as status-store id
deltas).  They do not move with host load, so they are the gate: a
query in both captures whose build+exec jobs or stages run grew prints
``COUNT REGRESSION`` and the tool exits 1.  Skipped stages are left
out: they run no task, and whether a job that reads an existing
shuffle gets a new (skipped) stage id depends on whether the job that
wrote it is still running.  A capture without a ``profile`` (older
than the count gate) has no counts to compare.

Walls are informational: per-query ratios beyond the threshold print
as REGRESSION or WIN, with the common-set total.  The wall REGRESSION
set is also printed as one ``tools/ab.py`` command between the two
captures' recorded heads: the A/B set is picked mechanically from the
diff, never by hand (round-8 verdict).

    python tools/compare_bench.py OLD.json NEW.json [ratio_threshold]
"""

from __future__ import annotations

import json
import sys


def counts(phases: dict) -> tuple[int, int]:
    """Build+exec (jobs, stages run) of one query's profile entry."""
    return (
        sum(p["jobs"] for p in phases.values()),
        sum(p["stages"] - p["skipped_stages"] for p in phases.values()),
    )


def main() -> int:
    old_path, new_path = sys.argv[1], sys.argv[2]
    thresh = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3
    old_doc = json.load(open(old_path))
    new_doc = json.load(open(new_path))

    old_prof, new_prof = old_doc.get("profile", {}), new_doc.get("profile", {})
    profiled = sorted(set(old_prof) & set(new_prof))
    was = {k: counts(old_prof[k]) for k in profiled}
    now = {k: counts(new_prof[k]) for k in profiled}
    print(
        f"counts, {len(profiled)} profiled queries: "
        f"jobs {sum(c[0] for c in was.values())} -> {sum(c[0] for c in now.values())}, "
        f"stages run {sum(c[1] for c in was.values())} -> {sum(c[1] for c in now.values())}"
    )
    grew = [k for k in profiled if now[k][0] > was[k][0] or now[k][1] > was[k][1]]
    for k in grew:
        print(
            f"COUNT REGRESSION {k}: jobs {was[k][0]} -> {now[k][0]}, "
            f"stages run {was[k][1]} -> {now[k][1]}"
        )

    old, new = old_doc["queries"], new_doc["queries"]
    common = sorted(set(old) & set(new))
    tot_o = sum(old[k] for k in common)
    tot_n = sum(new[k] for k in common)
    print(f"walls, common {len(common)} queries: {tot_o:.1f}s -> {tot_n:.1f}s (ratio {tot_n / tot_o:.3f})")
    print(f"only-old: {sorted(set(old) - set(new))}")
    print(f"only-new: {sorted(set(new) - set(old))}")
    regs = sorted(
        ((new[k] / max(old[k], 1e-9), k) for k in common if new[k] > old[k] * thresh),
        reverse=True,
    )
    wins = sorted(
        ((old[k] / max(new[k], 1e-9), k) for k in common if old[k] > new[k] * thresh),
        reverse=True,
    )
    for tag, rows in (("REGRESSION", regs), ("WIN", wins)):
        for r, k in rows:
            print(f"{tag} {k}: {old[k]:.2f}s -> {new[k]:.2f}s ({r:.2f}x)")
    if regs:
        # a capture run outside a git checkout records head null
        base = old_doc.get("head") or "<old head>"
        head = new_doc.get("head") or "<new head>"
        names = " ".join(k for _, k in regs)
        print(f"A/B: python tools/ab.py --base {base} --head {head} {names}")
    return 1 if grew else 0


if __name__ == "__main__":
    raise SystemExit(main())
