"""Seeded CIC-IDS-shaped inputs for the ids_pipeline workload.

The flow table mirrors the reference's feature table (FIXTURES.md §2):
78 numeric features whose range depends on a skewed three-class label,
with the real files' faults injected into fixed columns:

  f2  ~2% NaN          f3  ~2% +inf
  f4  ~2% null         f5  constant 0.0 (min == max for the scaler)

The label is a function of the row id (id % 100 < 80: Benign, < 95:
FTP-BruteForce, else SSH-BruteForce), so its counts have a closed form
(`label_counts`) that the run checks against. The seed draws every
feature value and every fault position.

The serve files hold fresh flows (ids after the training range, no
faults: screened upstream) for the stream phase, one file per
micro-batch. Every file after the first also re-sends the first
RESEND ids of the file before it, so the keyed sink replaces rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FEATURES = 78
LABELS = ("Benign", "FTP-BruteForce", "SSH-BruteForce")
TRAIN_ROWS = 6_000
SERVE_FILES = 12
NEW_PER_FILE = 500
RESEND = 50


def label_counts(rows):
    """Closed-form label counts for ids 0 .. rows-1."""
    full, rest = divmod(rows, 100)
    return {
        LABELS[0]: 80 * full + min(rest, 80),
        LABELS[1]: 15 * full + min(max(rest - 80, 0), 15),
        LABELS[2]: 5 * full + max(rest - 95, 0),
    }


def _classes(ids):
    m = ids % 100
    return np.where(m < 80, 0, np.where(m < 95, 1, 2))


def _features(rng, ids, faults):
    cls = _classes(ids)
    n = len(ids)
    cols = {}
    for j in range(N_FEATURES):
        v = (cls + 1) * (10.0 + j * 0.37) + rng.random(n) * 5.0
        mask = None
        if faults and j == 2:
            v[rng.random(n) < 0.02] = np.nan
        elif faults and j == 3:
            v[rng.random(n) < 0.02] = np.inf
        elif faults and j == 4:
            mask = rng.random(n) < 0.02
        elif j == 5:
            v[:] = 0.0
        cols[f"f{j}"] = pa.array(v, type=pa.float64(), mask=mask)
    return cls, cols


def live_rows_before(batch):
    """Rows in the sink when micro-batch `batch` starts: re-sent ids are
    already there, so only new ids grow the table."""
    return batch * NEW_PER_FILE


def generate(seed, out_dir):
    """Write flows.parquet and serve/part-*.parquet under out_dir."""
    rng = np.random.default_rng(seed)
    ids = np.arange(TRAIN_ROWS, dtype=np.int64)
    cls, cols = _features(rng, ids, faults=True)
    table = pa.table({"row_id": pa.array(ids), **cols,
                      "label": pa.array(np.array(LABELS)[cls])})
    pq.write_table(table, os.path.join(out_dir, "flows.parquet"))

    serve_dir = os.path.join(out_dir, "serve")
    os.makedirs(serve_dir)
    base = TRAIN_ROWS
    serve_ids = np.arange(base, base + SERVE_FILES * NEW_PER_FILE,
                          dtype=np.int64)
    _, scols = _features(rng, serve_ids, faults=False)
    serve = pa.table({"row_id": pa.array(serve_ids), **scols})
    mtime = 1_700_000_000
    for i in range(SERVE_FILES):
        part = serve.slice(i * NEW_PER_FILE, NEW_PER_FILE)
        if i > 0:
            part = pa.concat_tables(
                [serve.slice((i - 1) * NEW_PER_FILE, RESEND), part])
        path = os.path.join(serve_dir, f"part-{i:05d}.parquet")
        pq.write_table(part, path)
        # the file source takes files oldest first: pin the order
        os.utime(path, (mtime + i, mtime + i))
    return {
        "flows": os.path.join(out_dir, "flows.parquet"),
        "serve": serve_dir,
        "serve_files": SERVE_FILES,
        "labels": label_counts(TRAIN_ROWS),
    }
