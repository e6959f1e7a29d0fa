#!/usr/bin/env python3
"""Per-key ratios between two partial Bench records: one leg of an N×
scale curve.

    python3 tools/scale_curve.py <1x.json> <Nx.json>

Each argument is a `BENCH_ONLY.json` written by a partial Bench run
(`SPARK_GRAFT_BENCH_ONLY=<keys>`) over a `graft.ScaleProbe` corpus.
For every key in both records it prints the `min` seconds of each leg,
their ratio, and the ratios of shuffle write bytes, input bytes and
jobs, plus the spill bytes of the N× leg. A ratio is `-` where the 1×
value is 0 or either leg failed (`min` of -1).
"""
import json
import sys


def ratio(a, b):
    return f"{b / a:.2f}" if a > 0 and b >= 0 else "-"


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    one, many = (json.load(open(p)) for p in argv[1:])
    print(f"{'key':32s} {'min_1x':>8s} {'min_Nx':>8s} {'sec':>6s} "
          f"{'shuffle':>8s} {'input':>6s} {'jobs':>6s} {'spill_Nx':>9s}")
    for key in sorted(one["queries"].keys() & many["queries"].keys()):
        s1, sn = one["queries"][key]["min"], many["queries"][key]["min"]
        r1, rn = one["resources"][key], many["resources"][key]
        sec = ratio(s1, sn) if s1 >= 0 else "-"
        spill = rn["memory_spill_bytes"] + rn["disk_spill_bytes"]
        print(f"{key:32s} {s1:8.3f} {sn:8.3f} {sec:>6s} "
              f"{ratio(r1['shuffle_write_bytes'], rn['shuffle_write_bytes']):>8s} "
              f"{ratio(r1['input_bytes'], rn['input_bytes']):>6s} "
              f"{ratio(r1['jobs'], rn['jobs']):>6s} {spill:9d}")


if __name__ == "__main__":
    main(sys.argv)
