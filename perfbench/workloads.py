"""The benchmark's workloads. Each drives the package only through its
public functions, one operation at a time, and checks every output
outside the timed region.

A workload writes its inputs once (``prepare``), runs an untimed warm
pass on separate inputs (``warm``, timed as set-up), and then repeats
passes (``ops`` then ``pass_check``): the ingest workloads into a fresh
target each pass, the corpus refresh into one growing store.
Per-operation cost is dominated by fixed Spark job overhead, so the
write-path warm pass runs every operation of a pass, on inputs made
from the next seed: fewer warm operations left the JIT compiling
through the first measured pass. The media warm batch is smaller than
the measured one, because its per-row Python work needs no warming.
"""

from __future__ import annotations

import filecmp
import os
from dataclasses import dataclass, fields
from typing import Callable

import duckdb
import pyarrow.parquet as pq

from perfbench import gen

# The 22 TPC-H query shapes of the query registry, in query order.
TPCH22 = [
    "pricing_summary", "min_cost_supplier", "shipping_priority",
    "late_order_priority", "local_supplier_volume", "forecast_revenue",
    "volume_shipping", "market_share", "product_profit", "returned_items",
    "important_parts", "late_line_priority", "customer_order_counts",
    "promo_revenue", "top_supplier", "parts_supplier_cnt",
    "small_qty_revenue", "large_orders", "discounted_revenue",
    "potential_promotion", "bottleneck_supplier", "global_sales_opportunity",
]


# The TPC-H tables the query workload reads: copies of the repository's
# fixed test data (seed 42; see TESTDATA.md), one parquet file per
# table. sf0.01 (60k lineitem rows) is measured; sf0.001 is
# the separate warm-up input.
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], list[str]]


@dataclass
class PassStats:
    """What a finished pass left on disk."""

    stored_bytes: int = 0  # bytes of the pass's results on disk
    input_bytes: int = 0  # bytes of the inputs whose results those are
    files_written: int = 0  # parquet files in the target store(s)
    bytes_written: int = 0  # bytes of those files
    index_files: int = 0  # files in the near-dup and fingerprint indexes
    pairs_emitted: int = 0  # near-dup pairs stored
    files_copied: int = 0  # sidecar files in the destinations
    bytes_copied: int = 0


def _tree(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path``, skipping hidden and marker files."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")) or not f.endswith(suffix):
                continue
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _parquet_rows(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


class _Collected:
    """An already-collected query result in the shape the oracle harness
    reads (``columns`` and ``collect()``), so checking never re-runs it."""

    def __init__(self, columns: list[str], rows: list) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


# --- tpch_queries ------------------------------------------------------


class TpchQueries:
    """The 22 TPC-H query shapes over the fixed TPC-H tables, each result
    collected in full and compared to the registry's DuckDB oracle.
    Read-only; the seed does not apply."""

    name = "tpch_queries"
    SIZES = {
        "full": {"data": "sf0.01"},
        "smoke": {"data": "sf0.001"},
    }

    min_passes, max_passes = 1, None

    def __init__(self, work: str, seed: int, scale: str, tracer=None) -> None:
        self.work, self.tracer = work, tracer
        self.data = os.path.join(DATA, self.SIZES[scale]["data"])
        self.warm_data = os.path.join(DATA, "sf0.001")

    def prepare(self) -> dict:
        from data_ingestors_spark.io.readers import TABLES
        from data_ingestors_spark.queries import all_oracles, all_queries

        missing = [t for t in TABLES if not os.path.isfile(os.path.join(self.data, f"{t}.parquet"))]
        if missing:
            raise FileNotFoundError(f"{self.data}: missing tables {missing}")
        self.queries, self.oracles = all_queries(), all_oracles()
        tables = [os.path.join(self.data, f"{t}.parquet") for t in TPCH_TABLES]
        self.pass_rows = sum(pq.ParquetFile(t).metadata.num_rows for t in tables)
        self.pass_bytes = sum(os.path.getsize(t) for t in tables)
        # The workload stores nothing; its stored-bytes ratio is the
        # on-disk share of its Parquet input (over the Arrow in-memory
        # size), a constant control.
        self.raw_bytes = sum(pq.read_table(t).nbytes for t in tables)
        return {"rows": self.pass_rows, "bytes": self.pass_bytes}

    def warm(self, spark, warm_dir: str) -> None:
        for name in TPCH22:
            self.queries[name](spark, self.warm_data).collect()

    def _run(self, spark, name: str):
        from contextlib import nullcontext

        span = self.tracer.span if self.tracer else (lambda _n: nullcontext())
        with span("queries.build"):
            df = self.queries[name](spark, self.data)
        with span("queries.exec"):
            rows = df.collect()
        return _Collected(list(df.columns), rows)

    def ops(self, spark, pass_dir: str, pass_no: int) -> list[Op]:
        from tests.oracle_harness import compare

        def check(name):
            return lambda res: compare(
                spark, self.data, name, lambda _s, _d: res, self.oracles[name]
            )

        return [
            Op(name, (lambda n=name: self._run(spark, n)), check(name)) for name in TPCH22
        ]

    def pass_check(self, spark, pass_dir: str, pass_no: int) -> list[str]:
        return []

    def pass_stats(self, pass_dir: str, pass_no: int) -> PassStats:
        return PassStats(stored_bytes=self.pass_bytes, input_bytes=self.raw_bytes)


# --- ingest_tabular ----------------------------------------------------


def _tabular_config():
    from data_ingestors_spark.ingest.config import ResolvedConfig

    return ResolvedConfig(
        table_name="bench_tabular",
        schema=dict(gen.TABULAR_SCHEMA),
        label_column="grade",
        label_policy="bucket",
        data_id_strategy="column",
        data_id_column="rec_id",
    )


class IngestTabular:
    """Typed CSV manifests through ``Ingestor.ingest`` into one target:
    the first batch lands in an empty table, later ones half-overlap the
    stored keys."""

    name = "ingest_tabular"
    SIZES = {
        "full": {"batches": 3, "rows": 3000},
        "smoke": {"batches": 2, "rows": 200},
    }

    min_passes, max_passes = 1, None

    def __init__(self, work: str, seed: int, scale: str, tracer=None) -> None:
        self.work, self.seed, self.size = work, seed, self.SIZES[scale]

    def prepare(self) -> dict:
        s = self.size
        self.batches = gen.tabular_manifests(
            os.path.join(self.work, "tabular"), self.seed, s["batches"], s["rows"]
        )
        self.warm_batches = gen.tabular_manifests(
            os.path.join(self.work, "tabular_warm"), self.seed + 1, s["batches"], s["rows"]
        )
        self.pass_rows = sum(b.rows for b in self.batches)
        self.pass_bytes = sum(b.nbytes for b in self.batches)
        return {"rows": self.pass_rows, "bytes": self.pass_bytes}

    def warm(self, spark, warm_dir: str) -> None:
        for op in self._ops(spark, warm_dir, self.warm_batches):
            op.run()

    def ops(self, spark, pass_dir: str, pass_no: int) -> list[Op]:
        return self._ops(spark, pass_dir, self.batches)

    def _ops(self, spark, pass_dir: str, batches: list[gen.TabularBatch]) -> list[Op]:
        from data_ingestors_spark.ingest import pipeline

        target = os.path.join(pass_dir, "target")

        def check(b: gen.TabularBatch):
            def f(s) -> list[str]:
                want = {
                    "total_records": b.rows, "skipped": b.blank_keys,
                    "deduped": b.dup_rows, "processed": len(b.keys), "failed": 0,
                    "file_transfer_failures": 0,
                }
                got = {k: getattr(s, k) for k in want}
                return [] if got == want else [f"{os.path.basename(b.path)}: summary {got} != {want}"]

            return f

        return [
            Op(
                os.path.basename(b.path),
                (lambda b=b: pipeline.Ingestor(spark, _tabular_config(), target).ingest(b.path)),
                check(b),
            )
            for b in batches
        ]

    def pass_check(self, spark, pass_dir: str, pass_no: int) -> list[str]:
        """The final table's key set and row count against DuckDB over
        the manifests."""
        target = os.path.join(pass_dir, "target")
        na = ", ".join(f"'{v}'" for v in gen.NA_SENTINELS)
        con = duckdb.connect()
        try:
            n_rows, n_keys, only_m, only_t = con.execute(f"""
                WITH m AS (
                  SELECT DISTINCT CAST(CAST(trim(rec_id) AS BIGINT) AS VARCHAR) AS k
                  FROM read_csv({_sql_list([b.path for b in self.batches])},
                                header = true, all_varchar = true)
                  WHERE trim(coalesce(rec_id, '')) NOT IN ({na})
                ),
                t AS (SELECT data_id AS k FROM read_parquet('{target}/**/*.parquet'))
                SELECT (SELECT count(*) FROM t), (SELECT count(*) FROM m),
                       (SELECT count(*) FROM (SELECT k FROM m EXCEPT SELECT k FROM t)),
                       (SELECT count(*) FROM (SELECT k FROM t EXCEPT SELECT k FROM m))
            """).fetchone()
        finally:
            con.close()
        known = len(set().union(*(b.keys for b in self.batches)))
        problems = []
        if not (n_rows == n_keys == known) or only_m or only_t:
            problems.append(
                f"final table: {n_rows} rows, duckdb keys {n_keys}, generator keys "
                f"{known}, missing {only_m}, unexpected {only_t}"
            )
        return problems

    def pass_stats(self, pass_dir: str, pass_no: int) -> PassStats:
        files, size = _tree(os.path.join(pass_dir, "target"), ".parquet")
        return PassStats(
            stored_bytes=size, input_bytes=self.pass_bytes, files_written=files, bytes_written=size
        )


# --- ingest_media ------------------------------------------------------


def _media_config(src: str, dest: str):
    from data_ingestors_spark.ingest.config import ResolvedConfig

    return ResolvedConfig(
        table_name="bench_media",
        category="object_detection",
        schema=dict(gen.MEDIA_SCHEMA),
        label_column="image_label",
        label_policy="bucket",
        tabular=False,
        src_path=src,
        dest_path=dest,
        extension=".jpg",
        target_size=gen.IMAGE_SIZE,
    )


class IngestMedia:
    """``object_detection`` manifests: JPEG images with VOC XML sidecars,
    validated, copied and upserted into one target. The manifests
    declare typed columns, so the column battery runs as well; the first
    batch lands in an empty table, later ones merge."""

    name = "ingest_media"
    # The warm batch only has to run every Spark job and Python worker
    # path once; the per-row work (header parsing, XML checks, copies)
    # needs no warming, so it is smaller than the measured one.
    SIZES = {
        "full": {"batches": 1, "rows": 600, "warm_rows": 50},
        "smoke": {"batches": 1, "rows": 10, "warm_rows": 10},
    }

    min_passes, max_passes = 1, None

    def __init__(self, work: str, seed: int, scale: str, tracer=None) -> None:
        self.work, self.seed, self.size = work, seed, self.SIZES[scale]

    def prepare(self) -> dict:
        s = self.size
        self.batches = gen.media_batches(
            os.path.join(self.work, "media"), self.seed, s["batches"], s["rows"]
        )
        self.warm_batches = gen.media_batches(
            os.path.join(self.work, "media_warm"), self.seed + 1, s["batches"], s["warm_rows"]
        )
        self.pass_rows = sum(len(b.stems) for b in self.batches)
        self.pass_bytes = sum(b.nbytes for b in self.batches)
        return {"rows": self.pass_rows, "bytes": self.pass_bytes}

    def warm(self, spark, warm_dir: str) -> None:
        for op in self._ops(spark, warm_dir, self.warm_batches):
            op.run()

    def ops(self, spark, pass_dir: str, pass_no: int) -> list[Op]:
        return self._ops(spark, pass_dir, self.batches)

    def _ops(self, spark, pass_dir: str, batches: list[gen.MediaBatch]) -> list[Op]:
        from data_ingestors_spark.ingest import pipeline

        target = os.path.join(pass_dir, "target")

        def check(b: gen.MediaBatch, dest: str):
            def f(s) -> list[str]:
                n = len(b.stems)
                problems = []
                if (s.total_records, s.processed, s.failed, s.file_transfer_failures) != (n, n, 0, 0):
                    problems.append(f"{os.path.basename(b.manifest)}: summary {s}")
                for stem in b.stems:
                    for sub, ext in (("images", ".jpg"), ("annotations", ".xml")):
                        src = os.path.join(b.src, sub, stem + ext)
                        dst = os.path.join(dest, stem + ext)
                        if not (os.path.isfile(dst) and filecmp.cmp(src, dst, shallow=False)):
                            problems.append(f"{dst}: missing or differs from {src}")
                return problems[:10]

            return f

        ops = []
        for i, b in enumerate(batches):
            dest = os.path.join(pass_dir, "dest", str(i))
            ops.append(Op(
                os.path.basename(b.manifest),
                (lambda b=b, dest=dest: pipeline.Ingestor(
                    spark, _media_config(b.src, dest), target).ingest(b.manifest)),
                check(b, dest),
            ))
        return ops

    def pass_check(self, spark, pass_dir: str, pass_no: int) -> list[str]:
        n = _parquet_rows(os.path.join(pass_dir, "target"))
        return [] if n == self.pass_rows else [f"target holds {n} rows, want {self.pass_rows}"]

    def pass_stats(self, pass_dir: str, pass_no: int) -> PassStats:
        files, size = _tree(os.path.join(pass_dir, "target"), ".parquet")
        copied, copied_bytes = _tree(os.path.join(pass_dir, "dest"))
        return PassStats(
            stored_bytes=size + copied_bytes, input_bytes=self.pass_bytes,
            files_written=files, bytes_written=size,
            files_copied=copied, bytes_copied=copied_bytes,
        )


# --- corpus_refresh ----------------------------------------------------

# Per-source novelty report for batch {b} of a multi-batch refresh: a
# document is a corpus duplicate when its fingerprint appeared in an
# earlier batch; among the rest, each fingerprint family keeps one
# survivor (longest text, lowest doc_id on ties).
_REPORT_SQL = """
WITH docs AS (
  SELECT doc_id, source, batch_id, length(text) AS nc,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM batches WHERE batch_id <= {b}
),
cur AS (
  SELECT d.*, EXISTS (SELECT 1 FROM docs p WHERE p.batch_id < {b} AND p.fp = d.fp) AS dup
  FROM docs d WHERE d.batch_id = {b}
),
scored AS (
  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY nc DESC, doc_id) = 1 AS win
  FROM cur WHERE NOT dup
)
SELECT c.source, count(*) AS n_docs,
       count(*) FILTER (WHERE dup) AS n_dup_corpus,
       coalesce((SELECT count(*) FILTER (WHERE NOT win) FROM scored s WHERE s.source = c.source), 0) AS n_dup_batch,
       coalesce((SELECT count(*) FILTER (WHERE win) FROM scored s WHERE s.source = c.source), 0) AS n_novel
FROM cur c GROUP BY c.source ORDER BY c.source
"""


class CorpusRefresh:
    """A natural corpus folded batch by batch with ``refresh_corpus``
    (exact-dup report, text near-dup, embedding near-dup and corpus
    upsert run concurrently; compaction after every batch). The warm
    pass folds the corpus's first batch; each measured pass folds the
    next batch into the same store, so every timed refresh probes and
    merges into a store that already holds data."""

    name = "corpus_refresh"
    SIZES = {
        "full": {"docs": 500, "vecs": 250},
        "smoke": {"docs": 40, "vecs": 20},
    }
    COMPACT_EVERY = 1
    min_passes = 1
    max_passes = 3  # batches generated beyond the warm one

    def __init__(self, work: str, seed: int, scale: str, tracer=None) -> None:
        self.work, self.seed, self.size = work, seed, self.SIZES[scale]
        self.store = os.path.join(work, "corpus_store")

    def prepare(self) -> dict:
        s = self.size
        self.batches = gen.corpus_batches(
            os.path.join(self.work, "corpus"), self.seed, 1 + self.max_passes,
            s["docs"], s["vecs"],
        )
        self.pass_rows = self.batches[1].rows
        self.pass_bytes = self.batches[1].nbytes
        self.expected = self._oracle()
        return {"rows": self.pass_rows, "bytes": self.pass_bytes}

    def _oracle(self) -> list[dict]:
        """Per batch: the upsert counts and the exact-duplicate report."""
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE TABLE batches AS "
                + " UNION ALL ".join(
                    f"SELECT doc_id, source, text, {i} AS batch_id FROM read_parquet('{b.docs}')"
                    for i, b in enumerate(self.batches)
                )
            )
            out = []
            for i in range(len(self.batches)):
                n, distinct, seen = con.execute(f"""
                    SELECT count(*), count(DISTINCT doc_id),
                           count(DISTINCT doc_id) FILTER (WHERE doc_id IN (
                               SELECT doc_id FROM batches WHERE batch_id < {i}))
                    FROM batches WHERE batch_id = {i}""").fetchone()
                report = [
                    tuple(r) for r in con.execute(_REPORT_SQL.format(b=i)).fetchall()
                ]
                out.append({
                    "upsert": {"updated": seen, "inserted": distinct - seen, "deduped": n - distinct},
                    "report": report,
                })
            return out
        finally:
            con.close()

    def _refresh(self, spark, b: gen.CorpusBatch) -> dict:
        from data_ingestors_spark.ingest import refresh

        return refresh.refresh_corpus(
            spark, self.store, b.docs, embedding_batch_path=b.embeddings,
            compact_every=self.COMPACT_EVERY,
        )

    def warm(self, spark, warm_dir: str) -> None:
        self._refresh(spark, self.batches[0])

    def ops(self, spark, pass_dir: str, pass_no: int) -> list[Op]:
        i = pass_no + 1
        want = self.expected[i]

        def check(s: dict) -> list[str]:
            report = sorted(
                (r["source"], r["n_docs"], r["n_dup_corpus"], r["n_dup_batch"], r["n_novel"])
                for r in s["report"]
            )
            problems = []
            if s["batch_id"] != i or s["upsert"] != want["upsert"] or not s["compacted"]:
                problems.append(
                    f"batch {i}: id {s['batch_id']} compacted {s['compacted']} "
                    f"upsert {s['upsert']} != {want['upsert']}"
                )
            if report != want["report"]:
                problems.append(f"batch {i}: report {report} != {want['report']}")
            return problems

        b = self.batches[i]
        return [Op(f"refresh_{i:03d}", lambda: self._refresh(spark, b), check)]

    def pass_check(self, spark, pass_dir: str, pass_no: int) -> list[str]:
        n = _parquet_rows(os.path.join(self.store, "corpus"))
        want = sum(e["upsert"]["inserted"] for e in self.expected[: pass_no + 2])
        return [] if n == want else [f"corpus holds {n} rows, want {want}"]

    def pass_stats(self, pass_dir: str, pass_no: int) -> PassStats:
        store = self.store
        _, size = _tree(store)
        files, written = _tree(store, ".parquet")
        index = sum(
            _tree(os.path.join(store, d))[0]
            for d in ("dedup_index", os.path.join("neardup", "index"),
                      os.path.join("neardup_emb", "index"))
        )
        pairs = sum(
            _parquet_rows(os.path.join(store, d, "pairs")) for d in ("neardup", "neardup_emb")
        )
        return PassStats(
            stored_bytes=size, input_bytes=sum(b.nbytes for b in self.batches[: pass_no + 2]),
            files_written=files, bytes_written=written, index_files=index, pairs_emitted=pairs,
        )


class IngestRefresh:
    """The write path as one workload: an ``ingest_media`` pass, then a
    ``corpus_refresh`` pass, in one session. Running them in one process
    pays the session start and the common part of the warm-up once."""

    name = "ingest_refresh"

    min_passes, max_passes = 1, CorpusRefresh.max_passes

    def __init__(self, work: str, seed: int, scale: str, tracer=None) -> None:
        self.parts = [IngestMedia(work, seed, scale), CorpusRefresh(work, seed, scale)]

    def prepare(self) -> dict:
        infos = [p.prepare() for p in self.parts]
        self.pass_rows = sum(p.pass_rows for p in self.parts)
        self.pass_bytes = sum(p.pass_bytes for p in self.parts)
        return {k: sum(i[k] for i in infos) for k in ("rows", "bytes")}

    def warm(self, spark, warm_dir: str) -> None:
        for p in self.parts:
            p.warm(spark, os.path.join(warm_dir, p.name))

    def ops(self, spark, pass_dir: str, pass_no: int) -> list[Op]:
        return [
            op for p in self.parts
            for op in p.ops(spark, os.path.join(pass_dir, p.name), pass_no)
        ]

    def pass_check(self, spark, pass_dir: str, pass_no: int) -> list[str]:
        return [
            x for p in self.parts
            for x in p.pass_check(spark, os.path.join(pass_dir, p.name), pass_no)
        ]

    def pass_stats(self, pass_dir: str, pass_no: int) -> PassStats:
        out = PassStats()
        for p in self.parts:
            st = p.pass_stats(os.path.join(pass_dir, p.name), pass_no)
            for f in fields(PassStats):
                setattr(out, f.name, getattr(out, f.name) + getattr(st, f.name))
        return out


WORKLOADS = {
    w.name: w
    for w in (TpchQueries, IngestTabular, IngestMedia, CorpusRefresh, IngestRefresh)
}
