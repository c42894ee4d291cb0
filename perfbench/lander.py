"""Open-loop load generator, run as its own process.

Generates every change file of a run from the seed into a staging
directory first. Then it lands the ``--warm`` leading files at once and
the rest one per ``--interval`` seconds, from the epoch time the parent
writes to ``<out>.go``. A file is landed by stamping its mtime with its
due time and renaming it into the watched directory, so the engine never
sees a partial file. Ticks never wait for the engine.

The record written to ``--out`` holds each file's name, due time and
landing time.

Run: ``python3 perfbench/lander.py --seed 1 --sizes 256,64,64 --warm 1
--interval 20 --stage S --dst D --out R.json``
"""

from __future__ import annotations

import argparse
import json
import os
import time

import gen


def land(src: str, dst_dir: str, due: float) -> float:
    os.utime(src, (due, due))
    os.rename(src, os.path.join(dst_dir, os.path.basename(src)))
    return time.time()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sizes", required=True, help="comma-separated changes per file")
    ap.add_argument("--warm", type=int, required=True, help="leading files, landed at once")
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--dst", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    sizes = [int(s) for s in a.sizes.split(",")]
    paths = gen.change_files(a.seed, sizes, a.stage)
    os.makedirs(a.dst, exist_ok=True)
    rec = {"files": [os.path.basename(p) for p in paths], "due": [], "landed": []}

    now = time.time()
    for i, p in enumerate(paths[: a.warm]):
        # strictly increasing mtimes keep the file source's order
        due = now - (a.warm - i) * 1e-3
        rec["due"].append(due)
        rec["landed"].append(land(p, a.dst, due))
    with open(a.out + ".ready", "w") as f:
        f.write("1")

    go = a.out + ".go"
    while not os.path.exists(go):
        time.sleep(0.005)
    with open(go) as f:
        t0 = float(f.read())
    for k, p in enumerate(paths[a.warm :]):
        due = t0 + k * a.interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        rec["due"].append(due)
        rec["landed"].append(land(p, a.dst, due))

    tmp = a.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.rename(tmp, a.out)


if __name__ == "__main__":
    main()
