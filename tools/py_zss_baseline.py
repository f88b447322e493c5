#!/usr/bin/env python3
"""Single-node pure-Python Zhang-Shasha throughput baseline.

Implements the published ZSS algorithm (Zhang & Shasha 1989; same spec
as SURVEY.md §2.2 — written fresh here, no reference code available in
this sandbox) over the SAME flattened postorder arrays the engine
scores, read from a parquet dump produced by `graft.tools.Profile trees`.
This stands in for the reference library's single-node throughput,
which it publishes nowhere (BASELINE.md): the reference is pure Python
with this exact DP, so pairs/sec here ≈ its ceiling (it would be lower
still, since zss re-annotates both trees on every distance() call).

Usage:
  sbt "runMain graft.tools.Profile trees <sfDir> <dumpDir>"
  python3 tools/py_zss_baseline.py <dumpDir> [n_pairs]
"""
import sys, time
import pandas as pd


def treedist_all(la, lma, kra, lb, lmb, krb):
    na, nb = len(la), len(lb)
    td = [[0] * nb for _ in range(na)]
    for i in kra:
        ali = lma[i]
        m = i - ali + 2
        ioff = ali - 1
        for j in krb:
            blj = lmb[j]
            n = j - blj + 2
            joff = blj - 1
            fd = [[0] * n for _ in range(m)]
            for x in range(1, m):
                fd[x][0] = fd[x - 1][0] + 1
            for y in range(1, n):
                fd[0][y] = fd[0][y - 1] + 1
            for x in range(1, m):
                xa = x + ioff
                for y in range(1, n):
                    yb = y + joff
                    if ali == lma[xa] and blj == lmb[yb]:
                        u = 0 if la[xa] == lb[yb] else 1
                        fd[x][y] = min(fd[x - 1][y] + 1, fd[x][y - 1] + 1,
                                       fd[x - 1][y - 1] + u)
                        td[xa][yb] = fd[x][y]
                    else:
                        p = lma[xa] - 1 - ioff
                        q = lmb[yb] - 1 - joff
                        fd[x][y] = min(fd[x - 1][y] + 1, fd[x][y - 1] + 1,
                                       fd[p][q] + td[xa][yb])
    return td[na - 1][nb - 1]


def main(path, n_pairs=200):
    df = pd.read_parquet(path)
    rows = list(df.itertuples())
    pairs = [(rows[i], rows[(i * 7 + 3) % len(rows)]) for i in range(min(n_pairs, len(rows)))]
    t0 = time.time()
    total = 0
    for a, b in pairs:
        total += treedist_all(list(a.labelsH), list(a.lmds), list(a.keyroots),
                              list(b.labelsH), list(b.lmds), list(b.keyroots))
    wall = time.time() - t0
    print(f"python_zss pairs={len(pairs)} wall={wall:.2f}s "
          f"pairs_per_sec={len(pairs)/wall:.2f} checksum={total}")


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 200)
