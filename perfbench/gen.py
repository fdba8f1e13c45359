"""Seeded MOT input generator for the benchmark.

Writes one dataset directory per sequence in the layout `graft.Run`
reads: `det.txt`, `gt.txt` (MOT-Challenge CSV), `embeddings.parquet`
(frame: string, id: int, vector: array<float>), plus the `track.yaml`
and `eval.yaml` configs the CLI takes as `cfg=`.

Scenes follow the reference's iceberg shape: slowly drifting boxes with
births and deaths, about 5 % missed detections, low-confidence clutter,
and a per-object appearance embedding that drifts slowly. The same
seed always gives byte-identical files (`digest` checks that).
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

IMAGE = 4000.0  # scene side in pixels
MISS = 0.05     # share of live objects with no detection in a frame
CLUTTER = 0.03  # clutter detections per live object and frame
IOU_THRESHOLD = 0.5


def _fmt(rows):
    return "".join(
        f"{f:06d},{i},{x:.2f},{y:.2f},{w:.2f},{h:.2f},{c:.3f},1,-1,-1\n"
        for f, i, x, y, w, h, c in rows)


def sequence(rng, out, frames, objects, dim):
    """One scene: `objects` live objects per frame on average."""
    life = max(frames / 3.0, 5.0)            # mean lifetime in frames
    births = objects / life                  # births per frame at steady state
    n = objects
    next_id = 1
    ids = np.arange(next_id, next_id + n); next_id += n
    pos = rng.uniform(0, IMAGE, (n, 2))
    vel = rng.normal(0, 0.8, (n, 2))
    size = rng.uniform(20, 60, (n, 2))
    base = rng.normal(0, 1, (n, dim)).astype(np.float32)
    gt_rows, det_rows, emb_frames, emb_ids, emb_vecs = [], [], [], [], []
    for f in range(1, frames + 1):
        # deaths, then births
        keep = rng.random(len(ids)) >= 1.0 / life
        ids, pos, vel, size, base = ids[keep], pos[keep], vel[keep], size[keep], base[keep]
        nb = rng.poisson(births)
        if nb:
            ids = np.concatenate([ids, np.arange(next_id, next_id + nb)]); next_id += nb
            pos = np.concatenate([pos, rng.uniform(0, IMAGE, (nb, 2))])
            vel = np.concatenate([vel, rng.normal(0, 0.8, (nb, 2))])
            size = np.concatenate([size, rng.uniform(20, 60, (nb, 2))])
            base = np.concatenate([base, rng.normal(0, 1, (nb, dim)).astype(np.float32)])
        pos = np.clip(pos + vel, 0, IMAGE)
        vel = vel + rng.normal(0, 0.05, vel.shape)
        size = np.clip(size * rng.normal(1, 0.01, size.shape), 10, 80)
        base = base + rng.normal(0, 0.02, base.shape).astype(np.float32)
        gt_rows.extend(zip([f] * len(ids), ids.tolist(), pos[:, 0].tolist(),
                           pos[:, 1].tolist(), size[:, 0].tolist(),
                           size[:, 1].tolist(), [1.0] * len(ids)))
        seen = rng.random(len(ids)) >= MISS
        dpos = pos[seen] + rng.normal(0, 1.0, (int(seen.sum()), 2))
        dsize = size[seen] * rng.normal(1, 0.02, (int(seen.sum()), 2))
        demb = base[seen] + rng.normal(0, 0.05, (int(seen.sum()), dim)).astype(np.float32)
        dconf = rng.uniform(0.5, 1.0, int(seen.sum()))
        nc = rng.poisson(CLUTTER * len(ids))
        dpos = np.concatenate([dpos, rng.uniform(0, IMAGE, (nc, 2))])
        dsize = np.concatenate([dsize, rng.uniform(10, 40, (nc, 2))])
        demb = np.concatenate([demb, rng.normal(0, 1, (nc, dim)).astype(np.float32)])
        dconf = np.concatenate([dconf, rng.uniform(0.1, 0.5, nc)])
        order = rng.permutation(len(dconf))
        k = len(order)
        det_rows.extend(zip([f] * k, range(k), dpos[order, 0].tolist(),
                            dpos[order, 1].tolist(), dsize[order, 0].tolist(),
                            dsize[order, 1].tolist(), dconf[order].tolist()))
        norm = demb[order] / np.linalg.norm(demb[order], axis=1, keepdims=True)
        emb_frames.extend([f"{f:06d}"] * k)
        emb_ids.extend(range(k))
        emb_vecs.append(norm.astype(np.float32))
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "gt.txt"), "w") as fh:
        fh.write(_fmt(gt_rows))
    with open(os.path.join(out, "det.txt"), "w") as fh:
        fh.write(_fmt(det_rows))
    vecs = np.concatenate(emb_vecs)
    table = pa.table({
        "frame": pa.array(emb_frames, pa.string()),
        "id": pa.array(emb_ids, pa.int32()),
        "vector": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1), pa.float32()), dim).cast(pa.list_(pa.float32())),
    })
    pq.write_table(table, os.path.join(out, "embeddings.parquet"),
                   compression="snappy", row_group_size=1 << 20)


def generate(root, seed, sequences, frames, objects, dim):
    """All sequences of a workload under `root`; returns (name, dir) of each."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "track.yaml"), "w") as fh:
        fh.write("dataset: null\nmax_age: 3\n")
    with open(os.path.join(root, "eval.yaml"), "w") as fh:
        fh.write(f"dataset: null\niou_threshold: {IOU_THRESHOLD}\n")
    seqs = []
    for s in range(sequences):
        name = f"seq{s:03d}"
        d = os.path.join(root, name)
        sequence(rng, d, frames, objects, dim)
        seqs.append((name, d))
    return seqs


def one(out, seed, frames, objects, dim):
    """A single sequence directory of its own seed."""
    sequence(np.random.default_rng(seed), out, frames, objects, dim)


def digest(root):
    """md5 over every generated file, in path order."""
    md = hashlib.md5()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for f in sorted(files):
            if f in ("det.txt", "gt.txt", "embeddings.parquet", "track.yaml", "eval.yaml"):
                p = os.path.join(dirpath, f)
                md.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    md.update(fh.read())
    return md.hexdigest()
