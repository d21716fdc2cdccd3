"""Seeded generator of reference-shaped K-Means inputs.

Points are integer x,y,z rows drawn from K Gaussian blobs inside the
reference dataset's ranges (x in [0, 9999], y and z in [0, 1000]), written
as a headerless CSV. A fixed number of malformed lines of three kinds is
injected at seeded positions: wrong arity, a non-numeric token, and an
empty field. The seed file holds K distinct points of the data set.

The same arguments always give byte-identical files. A run gives each
repetition its own data set (`index`), so no repetition replays another's
centroid trajectory: the program compiles the centroids into its
generated code, and a replayed trajectory would be served from Spark's
code cache, which a user clustering new data never is.
"""

import numpy as np

LOW = np.array([0, 0, 0])
HIGH = np.array([9999, 1000, 1000])
# blob standard deviation per axis, about 4% of each range
SPREAD = np.array([400.0, 40.0, 40.0])
MALFORMED_KINDS = ("arity", "token", "empty")


def malformed_line(kind, i, a, b, c):
    if kind == "arity":
        return f"{a},{b}" if i % 2 == 0 else f"{a},{b},{c},{a}"
    if kind == "token":
        return f"{a},x{b},{c}"
    return f"{a},{b},"


def generate(seed, index, n, k, malformed_per_kind, points_path, seeds_path):
    """Writes data set `index` of run `seed`: n points from k blobs and k
    seeds. Returns its manifest."""
    rng = np.random.default_rng([seed, index])
    centers = rng.uniform(LOW, HIGH, size=(k, 3))
    labels = rng.integers(0, k, size=n)
    pts = np.rint(centers[labels] + rng.normal(size=(n, 3)) * SPREAD)
    pts = np.clip(pts, LOW, HIGH).astype(np.int64)
    lines = [f"{x},{y},{z}" for x, y, z in pts.tolist()]

    bad = [malformed_line(kind, i, *pts[rng.integers(n)].tolist())
           for kind in MALFORMED_KINDS for i in range(malformed_per_kind)]
    # insert each malformed line before a seeded position of the valid rows
    at = np.sort(rng.integers(0, n + 1, size=len(bad)))
    order = rng.permutation(len(bad))
    out, prev = [], 0
    for pos, j in zip(at.tolist(), order.tolist()):
        out.extend(lines[prev:pos])
        out.append(bad[j])
        prev = pos
    out.extend(lines[prev:])
    with open(points_path, "w") as f:
        f.write("\n".join(out) + "\n")

    uniq = np.unique(pts, axis=0)
    seeds = uniq[np.sort(rng.choice(len(uniq), size=k, replace=False))]
    with open(seeds_path, "w") as f:
        f.write("".join(f"{x},{y},{z}\n" for x, y, z in seeds.tolist()))

    return {"seed": seed, "index": index, "rows": n, "malformed": len(bad), "lines": len(out),
            "points": points_path, "seeds": seeds_path}


def load(manifest):
    """Valid points (n x 3 float64, file order) and seeds (k x 3) of a manifest."""
    rows = []
    with open(manifest["points"]) as f:
        for line in f:
            parts = line.rstrip("\n").split(",")
            if len(parts) == 3 and all(p.isdigit() for p in parts):
                rows.append([int(p) for p in parts])
    pts = np.array(rows, dtype=np.float64)
    seeds = np.loadtxt(manifest["seeds"], delimiter=",", ndmin=2)
    return pts, seeds

