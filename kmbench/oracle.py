"""Independent NumPy re-computation of the pipeline's outputs.

Each check returns a list of failure messages; an empty list means the
program's output matched.
"""

import os
import re

import numpy as np

RTOL = 1e-9
# distances from two engines may differ in the last bits; a label whose
# distance is within this relative margin of the minimum is a tie
TIE_RTOL = 1e-12


def distances(pts, centers):
    """Euclidean distance of every point to every center, as the program
    computes it: sqrt(dx^2 + dy^2 + dz^2), summed left to right."""
    dx, dy, dz = (pts[:, a, None] - centers[None, :, a] for a in range(3))
    return np.sqrt(dx * dx + dy * dy + dz * dz)


def assign(pts, centers):
    """Nearest center per point; exact ties go to the lowest index."""
    return np.argmin(distances(pts, centers), axis=1)


def lloyd(pts, seeds, r):
    """R fixed Lloyd iterations. Returns (ids, centers) after the last one.

    Like the program, a cluster that receives no point disappears: the
    next iteration continues with the remaining centers, renumbered in
    order, and the reported ids are positions in the previous center list.
    """
    centers = np.asarray(seeds, dtype=np.float64)
    ids = np.arange(len(centers))
    for _ in range(r):
        labels = assign(pts, centers)
        counts = np.bincount(labels, minlength=len(centers))
        sums = np.stack([np.bincount(labels, weights=pts[:, a], minlength=len(centers))
                         for a in range(3)], axis=1)
        ids = np.flatnonzero(counts)
        centers = sums[ids] / counts[ids][:, None]
    return ids, centers


def silhouette(pts, labels):
    """Per-cluster (id, avgIntra, avgInter, score) with the v2/v3 guards.

    avgIntra = sum of distances over ordered pairs inside the cluster
    / (n * (n - 1)); avgInter = sum of distances from the cluster's points
    to every point of every other cluster / (n * other non-empty clusters);
    score = (avgInter - avgIntra) / max(avgIntra, avgInter). Clusters with
    n <= 1, and clusters whose two averages are both 0, are left out.
    """
    ids = np.unique(labels)
    member = (labels[:, None] == ids[None, :]).astype(np.float64)
    sums = np.zeros((len(ids), len(ids)))  # sums[a, b]: Σ dist over a x b
    for lo in range(0, len(pts), 1024):
        d = distances(pts[lo:lo + 1024], pts)
        sums += member[lo:lo + 1024].T @ (d @ member)
    sizes = member.sum(axis=0).astype(int)
    out = []
    for a, c in enumerate(ids):
        n = sizes[a]
        if n <= 1:
            continue
        intra = sums[a, a] / (n * (n - 1))
        others = len(ids) - 1
        inter = (sums[a].sum() - sums[a, a]) / (n * others) if others else 0.0
        if intra > 0 or inter > 0:
            out.append((int(c), intra, inter, (inter - intra) / max(intra, inter)))
    return out


def close(a, b):
    return np.allclose(np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64),
                       rtol=RTOL, atol=0.0)


def check_centers(got, ids, centers):
    """`got` is the program's [[id, x, y, z], ...]."""
    got = np.asarray(got, dtype=np.float64).reshape(-1, 4)
    if len(got) != len(ids) or not np.array_equal(got[:, 0].astype(int), ids):
        return [f"cluster ids {got[:, 0].astype(int).tolist()} != {ids.tolist()}"]
    if not close(got[:, 1:], centers):
        err = np.max(np.abs(got[:, 1:] - centers) / np.abs(centers))
        return [f"centers differ from NumPy Lloyd (max relative error {err:.3g})"]
    return []


def check_silhouette(got, expected):
    got = sorted(tuple(row) for row in got)
    if [int(g[0]) for g in got] != [e[0] for e in expected]:
        return [f"silhouette clusters {[int(g[0]) for g in got]} != {[e[0] for e in expected]}"]
    if not close([g[1:] for g in got], [e[1:] for e in expected]):
        return ["silhouette avgIntra/avgInter/score differ from NumPy"]
    return []


def check_dropped(lines, valid_rows, injected):
    dropped = lines - valid_rows
    if dropped != injected:
        return [f"Points.readCsv dropped {dropped} lines, {injected} were malformed"]
    return []


def sort_rows(a):
    return a[np.lexsort(a.T[::-1])]


ASSIGNMENT = re.compile(
    r"Point: ([^,]+),([^,]+),([^ ]+) -> Assigned to Cluster (\d+) "
    r"\(Centroid: ([^,]+),([^,]+),([^)]+)\)")


def check_assignment_lines(directory, pts, centers):
    """The labeled output holds one line per valid row, each naming the
    nearest final center (ties: lowest id) and that center's coordinates."""
    rows = []
    for name in sorted(os.listdir(directory)):
        if name.startswith("part-"):
            with open(os.path.join(directory, name)) as f:
                for line in f:
                    m = ASSIGNMENT.fullmatch(line.rstrip("\n"))
                    if m is None:
                        return [f"unparseable output line: {line[:120]!r}"]
                    rows.append(m.groups())
    if len(rows) != len(pts):
        return [f"{len(rows)} output lines for {len(pts)} valid rows"]
    arr = np.array(rows, dtype=np.float64)
    got_pts, labels, got_c = arr[:, 0:3], arr[:, 3].astype(int), arr[:, 4:7]
    fails = []
    if not np.array_equal(sort_rows(got_pts), sort_rows(pts)):
        fails.append("output points are not the valid input rows")
    if labels.min() < 0 or labels.max() >= len(centers):
        return fails + ["output names a cluster outside the final centers"]
    d = distances(got_pts, centers)
    dmin = d.min(axis=1)
    chosen = d[np.arange(len(labels)), labels]
    # an exact tie must go to the lowest id; a near tie may go either way
    ok = (labels == np.argmin(d, axis=1)) | ((chosen > dmin) & (chosen <= dmin * (1 + TIE_RTOL)))
    if not np.all(ok):
        fails.append(f"{int(np.sum(~ok))} lines not assigned to the nearest center")
    if not close(got_c, centers[labels]):
        fails.append("centroid text does not match the final centers")
    return fails
