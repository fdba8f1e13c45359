"""Independent port of the reference's `compute_sequence_metrics`
(reference src/utils/eval.py:174-457) over MOT CSV files, used to check
the metric tables `graft.Run eval` prints.

The reference breaks ties by dict order; the port pins the same
deterministic rules the engine documents (see tools/eval_oracle.py):
  - IoU argmax ties go to the lowest track id;
  - when two GT boxes claim one track in a frame, the highest GT id wins.
"""
import glob
import os

import numpy as np


def read_mot(path):
    """MOT CSV (a file, or a Spark output directory of part files) →
    {frame: (ids array, boxes array)} plus the row count."""
    files = sorted(glob.glob(os.path.join(path, "part-*"))) if os.path.isdir(path) else [path]
    rows = []
    for f in files:
        with open(f) as fh:
            for line in fh:
                p = line.strip().split(",")
                if len(p) >= 6:
                    rows.append((int(p[0]), int(p[1]), float(p[2]), float(p[3]),
                                 float(p[4]), float(p[5])))
    frames = {}
    for fr, i, x, y, w, h in rows:
        frames.setdefault(fr, []).append((i, x, y, w, h))
    out = {}
    for fr, lst in frames.items():
        lst.sort()
        a = np.array(lst, dtype=np.float64)
        out[fr] = (a[:, 0].astype(np.int64), a[:, 1:5])
    return out, len(rows)


def _iou(g, t):
    gx1, gy1 = g[:, 0:1], g[:, 1:2]
    gx2, gy2 = gx1 + g[:, 2:3], gy1 + g[:, 3:4]
    tx1, ty1 = t[:, 0], t[:, 1]
    tx2, ty2 = tx1 + t[:, 2], ty1 + t[:, 3]
    iw = np.maximum(0.0, np.minimum(gx2, tx2) - np.maximum(gx1, tx1))
    ih = np.maximum(0.0, np.minimum(gy2, ty2) - np.maximum(gy1, ty1))
    inter = iw * ih
    union = g[:, 2:3] * g[:, 3:4] + t[:, 2] * t[:, 3] - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(union <= 0, 0.0, inter / union)


def sequence_metrics(gts, trks, iou_t):
    frames = sorted(gts)
    gt_to_track, track_to_gt, ious = {}, {}, []
    tp = fn = 0
    for f in frames:
        gids, gb = gts[f]
        gt_to_track[f], track_to_gt[f] = {}, {}
        if f in trks:
            tids, tb = trks[f]
            m = _iou(gb, tb)
            best_j = np.argmax(m, axis=1)  # first max = lowest track id
            best = m[np.arange(len(gids)), best_j]
        else:
            best = np.zeros(len(gids))
        for k, gid in enumerate(gids.tolist()):  # ascending: highest gid claims last
            v = float(best[k])
            if v > 0.0 and v >= iou_t:
                tid = int(tids[best_j[k]])
                gt_to_track[f][gid] = tid
                track_to_gt[f][tid] = gid
                ious.append(v)
                tp += 1
            else:
                fn += 1
    dets = sum(len(v[0]) for v in trks.values())
    gt_dets = sum(len(v[0]) for v in gts.values())
    ids = len({int(t) for v in trks.values() for t in v[0]})
    gt_all = {int(g) for v in gts.values() for g in v[0]}
    loca = sum(ious) / len(ious) if ious else 0.0
    idsw = frag = 0
    last_t, last_f = {}, {}
    for f in frames:
        for gid, tid in gt_to_track[f].items():
            if gid in last_t:
                if last_t[gid] != tid:
                    idsw += 1
                    last_t[gid] = tid
                if f > last_f[gid] + 1:
                    frag += 1
            else:
                last_t[gid] = tid
            last_f[gid] = f
    total, matched = {}, {}
    for f in frames:
        for g in gts[f][0].tolist():
            total[g] = total.get(g, 0) + 1
        for g in gt_to_track[f]:
            matched[g] = matched.get(g, 0) + 1
    mt = pt = ml = 0
    for g, tot in total.items():
        cov = matched.get(g, 0) / tot
        if cov >= 0.8:
            mt += 1
        elif cov >= 0.2:
            pt += 1
        else:
            ml += 1

    def idtp_of(traj):
        s = 0
        for steps in traj.values():
            best, cur, length = {}, None, 0
            for other in steps:
                if other == cur:
                    length += 1
                else:
                    if cur is not None:
                        best[cur] = max(best.get(cur, 0), length)
                    cur, length = other, 1
            if cur is not None:
                best[cur] = max(best.get(cur, 0), length)
            s += max(best.values())
        return s

    gt_traj, tr_traj = {}, {}
    for f in frames:
        for gid, tid in gt_to_track[f].items():
            gt_traj.setdefault(gid, []).append(tid)
        for tid, gid in track_to_gt[f].items():
            tr_traj.setdefault(tid, []).append(gid)
    idtp = idtp_of(gt_traj)
    idfn = tp - idtp
    idfp = tp - idtp_of(tr_traj)

    def ratio(a, b):
        return a / b if b > 0 else 0.0

    return {
        "Dets": dets, "GT_Dets": gt_dets, "IDs": ids, "GT_IDs": len(gt_all),
        "CLR_TP": tp, "CLR_FN": fn, "LocA": loca, "IDSW": idsw, "Frag": frag,
        "MT": mt, "PT": pt, "ML": ml, "CLR_Re": ratio(tp, gt_dets),
        "MTR": ratio(mt, len(gt_all)), "PTR": ratio(pt, len(gt_all)),
        "MLR": ratio(ml, len(gt_all)), "IDTP": idtp, "IDFN": idfn, "IDFP": idfp,
        "IDR": ratio(idtp, idtp + idfn), "IDP": ratio(idtp, idtp + idfp),
        "IDF1": ratio(2 * idtp, 2 * idtp + idfn + idfp),
    }


def parse_tables(text):
    """The per-sequence row of each table `Run eval` prints → {metric: str}."""
    out = {}
    lines = text.split("\n")
    for i, line in enumerate(lines):
        if line.endswith(":") and i + 1 < len(lines) and lines[i + 1].startswith("Sequence"):
            header = lines[i + 1].split()
            for row in lines[i + 3:]:
                if not row.strip():
                    break
                cells = row.split()
                if cells[0] != "COMBINED":
                    out.update(zip(header[1:], cells[1:]))
    return out


def check(dataset, tables_text, iou_t):
    """Mismatch messages between the printed tables and the port (empty = ok)."""
    gts, gt_rows = read_mot(os.path.join(dataset, "gt.txt"))
    trks, ev_rows = read_mot(os.path.join(dataset, "eval.txt"))
    printed = parse_tables(tables_text)
    exp = sequence_metrics(gts, trks, iou_t)
    errs = []
    if printed.get("GT_Dets") != str(gt_rows):
        errs.append(f"GT_Dets {printed.get('GT_Dets')} != gt.txt rows {gt_rows}")
    if printed.get("Dets") != str(ev_rows):
        errs.append(f"Dets {printed.get('Dets')} != eval.txt rows {ev_rows}")
    for k, v in exp.items():
        got = printed.get(k)
        if got is None:
            errs.append(f"{k} missing from the printed tables")
        elif isinstance(v, float):
            if abs(float(got) - v) > 0.0005 + 1e-9:
                errs.append(f"{k}: printed {got}, port {v:.6f}")
        elif int(got) != v:
            errs.append(f"{k}: printed {got}, port {v}")
    return errs
