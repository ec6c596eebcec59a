#!/usr/bin/env python3
"""Check the input generators: the same seed gives identical inputs, a
different seed gives different ones, for every workload.

    python3 perfbench/selfcheck.py [seed]

Needs no Spark; exits non-zero on the first violation.
"""

from __future__ import annotations

import sys

import pandas as pd

import inputs as I


def dashboard(seed: int):
    tables = I.dashboard_tables(seed)
    return [tables, [I.dashboard_request(seed, i, tables["users"]) for i in range(16)]]


def importhub(seed: int):
    uploads, history = [], []
    for i in range(3):
        wide, header = I.import_batch(
            seed, 0, i, pd.concat(history, ignore_index=True) if history else None)
        uploads.append(wide)
        history.append(I.canonical(wide, header))
    return uploads


def stream(seed: int):
    return I.stream_hour.__wrapped__(seed)  # uncached, so a repeat regenerates


def curation(seed: int):
    return I.curation_documents(seed)


def main(argv: list[str]) -> int:
    seed = int(argv[0]) if argv else 1
    ok = True
    for gen in (dashboard, importhub, stream, curation):
        a, b, c = (I.content_hash(gen(s)) for s in (seed, seed, seed + 1))
        same, differ = a == b, a != c
        ok &= same and differ
        print(f"{gen.__name__:10s} seed {seed}: {a}  repeat {'same' if same else 'DIFFERS'}"
              f"  seed {seed + 1}: {c} {'differs' if differ else 'SAME'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
