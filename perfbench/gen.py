"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same
arguments write byte-identical files. The package under test only ever
sees the files written here. ``tpch_queries`` reads no generated
input: it runs on the fixed TPC-H tables under ``perfbench/data``.
"""

from __future__ import annotations

import csv
import io
import os
import struct
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# --- ingest_tabular ----------------------------------------------------

TABULAR_SCHEMA = {
    "rec_id": "BIGINT",
    "qty": "INT",
    "price": "DECIMAL(12,2)",
    "score": "DOUBLE",
    "name": "VARCHAR(32)",
    "day": "DATE",
    "flag": "BOOLEAN",
    "ratio": "FLOAT",
    "grade": "VARCHAR(16)",
}
NA_SENTINELS = ("", "NA", "NULL", "None")
_BOOL_WORDS = ("true", "false", "yes", "no", "1", "0", "T", "F")
_GRADES = ("alpha", "beta", "gamma", "delta", "epsilon", " zeta ", "eta", "theta")


@dataclass
class TabularBatch:
    path: str
    rows: int  # data rows in the manifest
    blank_keys: int  # rows whose key is blank or an NA sentinel
    keys: list[int]  # distinct non-blank keys, sorted
    dup_rows: int  # non-blank rows beyond the first per key
    nbytes: int


def _tabular_rows(rng: np.random.RandomState, keys: np.ndarray) -> list[list[str]]:
    n = len(keys)
    qty = rng.randint(-1000, 1000, n)
    cents = rng.randint(0, 10_000_000, n)
    score = rng.standard_normal(n) * 100
    name_len = rng.randint(1, 20, n)
    days = rng.randint(0, 9000, n)
    flags = rng.randint(0, len(_BOOL_WORDS), n)
    ratio = rng.random_sample(n)
    grade = rng.randint(0, len(_GRADES), n)
    na = rng.random_sample((n, 8)) < 0.03
    na_pick = rng.randint(0, len(NA_SENTINELS), (n, 8))
    base = np.datetime64("2000-01-01")
    out = []
    for i in range(n):
        vals = [
            str(qty[i]),
            f"{cents[i] // 100}.{cents[i] % 100:02d}",
            repr(float(score[i])),
            "n" + "x" * int(name_len[i]),
            str(base + int(days[i])),
            _BOOL_WORDS[flags[i]],
            f"{ratio[i]:.6f}",
            _GRADES[grade[i]],
        ]
        for j in range(8):
            if na[i, j]:
                vals[j] = NA_SENTINELS[na_pick[i, j]]
        out.append([keys[i]] + vals)
    return out


def tabular_manifests(
    out_dir: str, seed: int, n_batches: int, rows_per_batch: int
) -> list[TabularBatch]:
    """CSV manifests for one target table. Batch 0 lands in an empty
    table; every later batch draws about half its keys from keys
    already stored and half new. Each batch carries ~2% in-batch
    duplicate keys and ~1% blank or NA-sentinel keys, and ~3% NA
    sentinels in every other column."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.RandomState(seed)
    stored: list[int] = []
    next_key = 1
    batches = []
    for b in range(n_batches):
        n_old = rows_per_batch // 2 if stored else 0
        n_new = rows_per_batch - n_old
        new = np.arange(next_key, next_key + n_new)
        next_key += n_new
        old = rng.choice(np.array(stored), n_old, replace=False) if n_old else new[:0]
        keys = np.concatenate([new, old])
        n_dup = rows_per_batch // 50
        dup_at = rng.choice(rows_per_batch, n_dup, replace=False)
        keys[dup_at] = keys[rng.randint(0, rows_per_batch, n_dup)]
        rng.shuffle(keys)
        str_keys = [str(int(k)) for k in keys]
        n_blank = rows_per_batch // 100
        for pos in rng.choice(rows_per_batch, n_blank, replace=False):
            str_keys[pos] = NA_SENTINELS[rng.randint(0, len(NA_SENTINELS))]
        rows = _tabular_rows(rng, np.array(str_keys, dtype=object))
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(list(TABULAR_SCHEMA))
        w.writerows(rows)
        path = os.path.join(out_dir, f"batch_{b:03d}.csv")
        with open(path, "w", encoding="utf-8", newline="") as fh:
            fh.write(buf.getvalue())
        present = [int(k) for k in str_keys if k not in NA_SENTINELS]
        distinct = sorted(set(present))
        stored = sorted(set(stored) | set(distinct))
        batches.append(TabularBatch(
            path=path, rows=rows_per_batch,
            blank_keys=rows_per_batch - len(present), keys=distinct,
            dup_rows=len(present) - len(distinct), nbytes=os.path.getsize(path),
        ))
    return batches


# --- ingest_media ------------------------------------------------------

IMAGE_SIZE = (64, 48)
_VOC = (
    "<annotation><folder>images</folder><filename>{name}</filename>"
    "<source><database>bench</database></source>"
    "<size><width>{w}</width><height>{h}</height><depth>3</depth></size>"
    "<segmented>0</segmented>{objects}</annotation>"
)
_VOC_OBJ = (
    "<object><name>{label}</name><truncated>{trunc}</truncated>"
    "<bndbox><xmin>{x0}</xmin><ymin>{y0}</ymin><xmax>{x1}</xmax><ymax>{y1}</ymax></bndbox>"
    "</object>"
)
MEDIA_LABELS = ("car", "person", "bike", "sign", "tree")


def jpeg_bytes(w: int, h: int, payload: bytes) -> bytes:
    """A JPEG marker stream with real SOI/APP0(JFIF)/SOF0/EOI segments:
    enough for a header parser to read the frame size."""
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHHB", 8, h, w, 3) + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
        + b"\xff\xda" + struct.pack(">H", 2) + payload
        + b"\xff\xd9"
    )


MEDIA_SCHEMA = {
    "filename": "VARCHAR(64)",
    "image_label": "VARCHAR(16)",
    "n_objects": "INT",
    "exposure": "DECIMAL(8,3)",
    "score": "DOUBLE",
    "captured": "DATE",
    "reviewed": "BOOLEAN",
}


@dataclass
class MediaBatch:
    manifest: str
    src: str
    stems: list[str]
    nbytes: int  # manifest + every source file


def media_batches(
    out_dir: str, seed: int, n_batches: int, rows_per_batch: int
) -> list[MediaBatch]:
    """``object_detection`` batches: each has its own source tree
    (``images/<stem>.jpg`` with real JPEG header bytes and
    ``annotations/<stem>.xml`` VOC sidecars) and a manifest CSV whose
    typed columns (``MEDIA_SCHEMA``) carry ~3% blank values."""
    rng = np.random.RandomState(seed)
    w, h = IMAGE_SIZE
    base = np.datetime64("2010-01-01")
    out = []
    for b in range(n_batches):
        src = os.path.join(out_dir, f"src_{b:03d}")
        os.makedirs(os.path.join(src, "images"), exist_ok=True)
        os.makedirs(os.path.join(src, "annotations"), exist_ok=True)
        stems = [f"img_{b:03d}_{i:05d}" for i in range(rows_per_batch)]
        nbytes = 0
        rows = [list(MEDIA_SCHEMA)]
        for stem in stems:
            payload = rng.bytes(int(rng.randint(200, 2000))).replace(b"\xff", b"\x00")
            img = jpeg_bytes(w, h, payload)
            objs = []
            for _ in range(int(rng.randint(1, 4))):
                x0, y0 = int(rng.randint(0, w // 2)), int(rng.randint(0, h // 2))
                objs.append(_VOC_OBJ.format(
                    label=MEDIA_LABELS[rng.randint(0, len(MEDIA_LABELS))],
                    trunc=int(rng.randint(0, 2)),
                    x0=x0, y0=y0,
                    x1=x0 + int(rng.randint(1, w // 2)), y1=y0 + int(rng.randint(1, h // 2)),
                ))
            xml = _VOC.format(name=f"{stem}.jpg", w=w, h=h, objects="".join(objs)).encode()
            for rel, data in ((f"images/{stem}.jpg", img), (f"annotations/{stem}.xml", xml)):
                with open(os.path.join(src, rel), "wb") as fh:
                    fh.write(data)
                nbytes += len(data)
            vals = [
                MEDIA_LABELS[rng.randint(0, len(MEDIA_LABELS))],
                str(len(objs)),
                f"{rng.randint(0, 100000) / 1000:.3f}",
                repr(float(rng.random_sample())),
                str(base + int(rng.randint(0, 4000))),
                _BOOL_WORDS[rng.randint(0, len(_BOOL_WORDS))],
            ]
            blank = rng.random_sample(len(vals)) < 0.03
            rows.append([stem] + ["" if blank[j] else v for j, v in enumerate(vals)])
        manifest = os.path.join(out_dir, f"manifest_{b:03d}.csv")
        buf = io.StringIO()
        csv.writer(buf, lineterminator="\n").writerows(rows)
        with open(manifest, "w", encoding="utf-8", newline="") as fh:
            fh.write(buf.getvalue())
        nbytes += os.path.getsize(manifest)
        out.append(MediaBatch(manifest=manifest, src=src, stems=stems, nbytes=nbytes))
    return out


# --- corpus_refresh ----------------------------------------------------


@dataclass
class CorpusBatch:
    docs: str
    embeddings: str
    rows: int
    nbytes: int


def corpus_batches(
    out_dir: str, seed: int, n_batches: int, docs_per_batch: int, vecs_per_batch: int
) -> list[CorpusBatch]:
    """A natural corpus (Zipfian text with exact and near duplicates;
    clustered embeddings) from the repository's corpus generators,
    split into consecutive batches of documents and embeddings."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    from tools.make_natural_corpus import gen_documents, gen_embeddings

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.RandomState(seed)
    n_docs, n_vecs = n_batches * docs_per_batch, n_batches * vecs_per_batch
    X, labels = gen_embeddings(n_vecs, rng, n_clusters=max(4, n_vecs // 62))
    rows = gen_documents(n_docs, rng, vocab=int(36 * (60 * n_docs) ** 0.5))
    out = []
    for b in range(n_batches):
        d0, d1 = b * docs_per_batch, (b + 1) * docs_per_batch
        v0, v1 = b * vecs_per_batch, (b + 1) * vecs_per_batch
        part = rows[d0:d1]
        docs = pa.table({
            "doc_id": pa.array([r[0] for r in part], pa.int64()),
            "text": pa.array([r[1] for r in part], pa.string()),
            "lang": pa.array([r[2] for r in part], pa.string()),
            "source": pa.array([r[3] for r in part], pa.string()),
            "n_chars": pa.array([r[4] for r in part], pa.int64()),
        })
        emb = pa.table({
            "vec_id": pa.array(range(v0, v1), pa.int64()),
            "embedding": pa.array([x.tolist() for x in X[v0:v1]], pa.list_(pa.float32())),
            "label": pa.array(labels[v0:v1], pa.int32()),
        })
        dp = os.path.join(out_dir, f"docs_{b:03d}.parquet")
        ep = os.path.join(out_dir, f"emb_{b:03d}.parquet")
        nbytes = _write(docs, dp) + _write(emb, ep)
        out.append(CorpusBatch(docs=dp, embeddings=ep, rows=len(part) + (v1 - v0), nbytes=nbytes))
    return out
