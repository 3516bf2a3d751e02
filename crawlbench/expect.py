"""Compute a workload's expected outputs in a process of its own.

    python3 -m crawlbench.expect IN OUT

IN holds a pickled (function, args) pair; OUT receives the pickled
result. The oracles are CPU-bound Python, so a run computes them here
while its engine warms up: a thread would hold the GIL the driver needs,
and a forked child would share the driver's Py4J connection.
"""

from __future__ import annotations

import pickle
import sys


def main(src: str, dst: str) -> None:
    with open(src, "rb") as f:
        fn, args = pickle.load(f)
    result = fn(*args)
    with open(dst, "wb") as f:
        pickle.dump(result, f)


if __name__ == "__main__":
    main(*sys.argv[1:])
