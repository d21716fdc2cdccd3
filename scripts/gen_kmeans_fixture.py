#!/usr/bin/env python3
"""Writes the in-repo K-Means test fixture (see FIXTURES.md):
5,000 integer 3-D points in five blobs and K = 5 seed points, both
headerless CSV in the reference dataset's ranges (x in [0, 9999],
y and z in [0, 1000]). Standard library only; the same seed always gives
byte-identical files.

Usage: python3 scripts/gen_kmeans_fixture.py [outDir]
"""
import os
import random
import sys

SEED = 5000
N, K = 5000, 5

out = sys.argv[1] if len(sys.argv) > 1 else "src/test/resources/kmeans"
rng = random.Random(SEED)


def clamp(v, hi):
    return min(max(int(round(v)), 0), hi)


# blob centres spread along x like the reference's clusters; y and z
# inside the middle of their range
centres = [(1000 + 2000 * i + rng.uniform(-300, 300),
            rng.uniform(250, 750), rng.uniform(250, 750)) for i in range(K)]
points = []
for i in range(N):
    cx, cy, cz = centres[i % K]
    points.append((clamp(rng.gauss(cx, 350), 9999),
                   clamp(rng.gauss(cy, 120), 1000),
                   clamp(rng.gauss(cz, 120), 1000)))
rng.shuffle(points)
# seeds: K distinct data points drawn uniformly, as a seed file is
seeds = []
while len(seeds) < K:
    p = points[rng.randrange(N)]
    if p not in seeds:
        seeds.append(p)

os.makedirs(out, exist_ok=True)
for name, rows in (("points.csv", points), ("seeds_k5.csv", seeds)):
    with open(os.path.join(out, name), "w") as f:
        f.writelines(f"{x},{y},{z}\n" for x, y, z in rows)
