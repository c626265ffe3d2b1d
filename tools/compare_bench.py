"""Diff two BENCH_FULL.json files: per-query ratios, regressions,
and the common-set total — the comparison the round judge makes.

When both files carry ``calib_sec`` (the fixed pure-CPU host-noise
probe bench.py times after JIT warmup), all ratios are ALSO reported
calibration-normalized: ratio_norm = (new/calib_new)/(old/calib_old).
A query whose raw ratio tracks the calib ratio drifted with the host,
not the engine — same-HEAD full-bench totals have measured 196-270 s
purely from VM throttling variance.

The REGRESSION set is also printed as one ``tools/ab.py`` command
between the two captures' recorded heads: the A/B set is picked
mechanically from the diff, never by hand (round-8 verdict).

    python tools/compare_bench.py OLD.json NEW.json [ratio_threshold]
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    old_path, new_path = sys.argv[1], sys.argv[2]
    thresh = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3
    old_doc = json.load(open(old_path))
    new_doc = json.load(open(new_path))
    old, new = old_doc["queries"], new_doc["queries"]
    calib = None
    if old_doc.get("calib_sec") and new_doc.get("calib_sec"):
        calib = new_doc["calib_sec"] / old_doc["calib_sec"]
        print(
            f"calib: {old_doc['calib_sec']}s -> {new_doc['calib_sec']}s "
            f"(host ratio {calib:.3f}; raw ratios divide by this to normalize)"
        )
    common = sorted(set(old) & set(new))
    tot_o = sum(old[k] for k in common)
    tot_n = sum(new[k] for k in common)
    raw = tot_n / tot_o
    line = f"common {len(common)} queries: {tot_o:.1f}s -> {tot_n:.1f}s (ratio {raw:.3f}"
    if calib:
        line += f", calib-normalized {raw / calib:.3f}"
    print(line + ")")
    print(f"only-old: {sorted(set(old) - set(new))}")
    print(f"only-new: {sorted(set(new) - set(old))}")
    norm = calib or 1.0
    regs = sorted(
        (
            (new[k] / max(old[k], 1e-9) / norm, k)
            for k in common
            if new[k] / norm > old[k] * thresh
        ),
        reverse=True,
    )
    wins = sorted(
        (
            (old[k] * norm / max(new[k], 1e-9), k)
            for k in common
            if old[k] > new[k] / norm * thresh
        ),
        reverse=True,
    )
    tag_sfx = " (calib-normalized)" if calib else ""
    for tag, rows in (("REGRESSION", regs), ("WIN", wins)):
        for r, k in rows:
            print(f"{tag}{tag_sfx} {k}: {old[k]:.2f}s -> {new[k]:.2f}s ({r:.2f}x)")
    if regs:
        base = old_doc.get("head", "<old head>")
        head = new_doc.get("head", "<new head>")
        names = " ".join(k for _, k in regs)
        print(f"A/B: python tools/ab.py --base {base} --head {head} {names}")


if __name__ == "__main__":
    main()
