#!/usr/bin/env python3
"""Re-derive graftbench/goldens.tsv. Run from the repository root.

    python3 graftbench/record_goldens.py [--seeds 1 2] [--workloads refresh corpus]

Each workload runs once per seed, traced (so the refresh workload builds)
and with `--record 1`, which prints every op's digest (row count, bit_xor
of row hashes) instead of checking it. The
digests must not depend on the seed, which only reorders the staged rows
and draws batches the digests do not cover; any op whose digest differs
between seeds or between passes of a run is reported and nothing is
written.
"""
import argparse
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    ap.add_argument("--workloads", nargs="+", default=["refresh", "corpus"])
    ap.add_argument("--out", default="graftbench/goldens.tsv")
    a = ap.parse_args()
    lines, bad = {}, []
    for w in a.workloads:
        seen = {}
        for seed in a.seeds:
            p = subprocess.run(
                [sys.executable, "graftbench/run.py", "--workload", w, "--seed", str(seed),
                 "--seconds", "1", "--trace", "1", "--record", "1"],
                capture_output=True, text=True)
            out = p.stdout.splitlines()
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed}: run failed\n{p.stderr[-2000:]}")
            bad += [f"{w} seed {seed}: {l}" for l in out if l.startswith("failure:")]
            got = dict((f[2], (f[3], f[4])) for f in
                       (l.split("\t") for l in out if l.startswith("golden\t")))
            for op, d in got.items():
                seen.setdefault(op, set()).add(d)
        for op, ds in sorted(seen.items()):
            if len(ds) != 1:
                bad.append(f"{w} {op}: digest depends on the seed: {sorted(ds)}")
            lines[(w, op)] = next(iter(ds))
    if bad:
        sys.exit("not written:\n" + "\n".join(bad))
    with open(a.out, "w") as fh:
        for (w, op), (rows, xor) in sorted(lines.items()):
            fh.write(f"{w}\t{op}\t{rows}\t{xor}\n")
    print(f"wrote {len(lines)} goldens to {a.out}")


if __name__ == "__main__":
    main()
