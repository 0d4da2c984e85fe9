"""The two benchmark workloads.

``sql_tpch`` posts analyst SQL to the REST server. ``curation_ingest``
runs registry curation callables through the noop sink, then micro-batch
appends, shortlist probes and compaction on a streaming ANN index; its
two parts are ``CurationPipeline`` and ``IngestProbe``.

Each workload sets itself up on a fresh SparkSession, then yields the
operations of one pass in an order drawn from the run's seed. An
operation has an untimed ``pre`` step, the timed ``run`` step and an
untimed ``post`` check that returns whether the result was right. Every workload reaches the engine only through a
public entry point: the REST server, the registry callables, or the
streaming ANN index functions.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import shutil
import urllib.request
from dataclasses import dataclass
from decimal import Decimal
from collections.abc import Callable

import numpy as np
import pandas as pd

from gen import GEN_SEED

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Oracle statements the SQL front door runs. The registry holds 22 TPC-H
# and 5 micro statements; these five oracles use DuckDB's integer
# division operator '//', which the Tajo dialect does not accept.
SQL_EXCLUDED = ("tpch_q2", "tpch_q9", "tpch_q11", "tpch_q16", "tpch_q20")

# Registry callables of the curation workload: eager-checkpoint plan
# builders, Python-worker operators, near-duplicate detection and the
# similarity top-k family. The set is sized so that three set-ups, the
# warm-up and several timed passes fit the benchmark's time per run.
CURATION = (
    "pipeline_corpus_prep_v7",
    "dedup_minhash_pairs",
    "multimodal_phash_neardup",
    "sim_cosine_topk",
    "text_bpe_encode",
    "text_gopher_rules",
)



# -- result canonicalisation ---------------------------------------------------

_NUMERIC_START = frozenset("0123456789+-.")
_DATE = re.compile(r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2}(\.\d+)?)?$")


def _number(f: float) -> str:
    if f != f:  # pandas carries SQL NULL in float columns as NaN
        return "\\N"
    if f.is_integer() and abs(f) < 2**53:
        return str(int(f))
    return repr(round(f, 6))


def _cell(v) -> str:
    """One canonical text per value, whatever carried it: a REST JSON
    cell, a pandas cell from Spark, or a pandas cell from DuckDB."""
    if isinstance(v, str):
        if v[:1] in _NUMERIC_START:
            if _DATE.match(v):
                return pd.Timestamp(v).isoformat(sep=" ")
            try:
                return _number(float(v))
            except ValueError:
                pass
        return v
    if isinstance(v, (float, int, np.number, Decimal)) and not isinstance(v, (bool, np.bool_)):
        return _number(float(v))
    if v is None or v is pd.NaT or v is pd.NA:
        return "\\N"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if hasattr(v, "isoformat"):
        return pd.Timestamp(v).isoformat(sep=" ")
    return str(v)


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple[str, ...]]]:
    """Columns sorted by name and rows sorted, every cell as `_cell` text."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return ([columns[i] for i in order],
            sorted(tuple(_cell(r[i]) for i in order) for r in rows))


def frame_canonical(pdf):
    return canonical(list(pdf.columns), pdf.itertuples(index=False, name=None))


def result_hash(result) -> dict:
    """Row count and md5 of a canonical result."""
    columns, rows = result
    h = hashlib.md5(",".join(columns).encode())
    for row in rows:
        h.update("\x1f".join(row).encode() + b"\n")
    return {"rows": len(rows), "md5": h.hexdigest()}


def _close(a: str, b: str) -> bool:
    if a == b:
        return True
    try:
        x, y = float(a), float(b)
    except ValueError:
        return False
    # oracles round aggregates to cents on both sides; a different
    # summation order can still land either side of a half cent
    return abs(x - y) <= 0.0100001 or abs(x - y) <= 1e-9 * max(abs(x), abs(y))


def same_result(got, want) -> bool:
    """Canonical results equal up to a rounding flip in the last cent."""
    return (got[0] == want[0] and len(got[1]) == len(want[1])
            and all(_close(a, b) for r, w in zip(got[1], want[1])
                    for a, b in zip(r, w)))


def duckdb_views(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


# -- operations ----------------------------------------------------------------


@dataclass
class Op:
    name: str
    kind: str  # "read" (a query or probe) or "write" (an append or compaction)
    run: Callable[[], object]
    post: Callable[[object], bool] = lambda _r: True
    pre: Callable[[], None] = lambda: None


class SqlTpch:
    """Analyst statements posted as SQL text to the REST server."""

    name = "sql_tpch"
    # the JIT keeps compiling for tens of seconds after set-up, so timed
    # passes still speed up after the warm-up; more warm-up, here and on
    # curation_ingest, would not fit the time the driver gives a run
    WARM_PASSES = 2
    MIN_PASSES = 1

    def __init__(self, ctx) -> None:
        from tajo_spark.queries.registry import all_queries

        self.ctx = ctx
        queries = all_queries()
        self.statements = {
            n: s.oracle for n, s in queries.items()
            if n.startswith(("tpch_", "micro_")) and s.oracle
            and n not in SQL_EXCLUDED
        }
        self.names = sorted(self.statements)
        self.server = None

    def setup(self, spark) -> None:
        from tajo_spark import rest
        from tajo_spark.catalog import register_tables
        from tajo_spark.engine import Engine

        register_tables(spark, self.ctx.data_dir)
        self.server, _ = rest.serve_background(Engine(spark))
        con = duckdb_views(self.ctx.data_dir)
        self.expected = {n: frame_canonical(con.execute(sql).fetchdf())
                         for n, sql in self.statements.items()}
        con.close()

    def teardown(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None

    def _post(self, sql: str) -> dict:
        port = self.server.server_address[1]
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/queries",
            data=json.dumps({"query": sql, "limit": 10_000_000}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            return json.loads(resp.read())

    def ops(self, rng) -> list[Op]:
        """Every statement once; each response is checked."""
        return [
            Op(n, "read", run=lambda n=n: self._post(self.statements[n]),
               post=lambda r, n=n: "rows" in r and same_result(
                   canonical(r["columns"], r["rows"]), self.expected[n]))
            for n in rng.permutation(self.names)
        ]

    def warm_ops(self, rng, first: bool) -> list[Op]:
        return self.ops(rng)


class CurationPipeline:
    """Registry callables through the noop sink. The first warm-up pass collects
    each result instead and compares it with the row count and hash of
    the DuckDB oracle's result, recorded in expected.json."""

    def __init__(self, ctx) -> None:
        from tajo_spark.queries.registry import all_queries

        self.ctx = ctx
        queries = all_queries()
        self.specs = {n: queries[n] for n in CURATION}
        with open(os.path.join(HERE, "expected.json")) as fh:
            self.expected = json.load(fh)[str(ctx.sf)]

    def setup(self, spark) -> None:
        from tajo_spark.catalog import register_tables

        self.spark = spark
        register_tables(spark, self.ctx.data_dir)

    def teardown(self) -> None:
        pass

    def _build(self, n: str):
        build = self.specs[n].spark
        if self.ctx.tracer is not None:
            build = self.ctx.tracer.wrap("queries", n, build)
        return build(self.spark, self.ctx.data_dir)

    def _noop(self, n: str) -> None:
        self._build(n).write.format("noop").mode("overwrite").save()

    def _checked(self, n: str) -> bool:
        got = result_hash(frame_canonical(self._build(n).toPandas()))
        return got == self.expected[n]

    def ops(self, rng) -> list[Op]:
        return [Op(n, "read", run=lambda n=n: self._noop(n))
                for n in rng.permutation(CURATION)]

    def warm_ops(self, rng, first: bool) -> list[Op]:
        """The first warm-up pass checks every output; later ones are
        timed-form passes."""
        if not first:
            return self.ops(rng)
        return [Op(n, "read", run=lambda n=n: self._checked(n), post=bool)
                for n in rng.permutation(CURATION)]


class IngestPass:
    """The index copy one ingest pass writes, and what it acknowledged."""

    def __init__(self, index: str, rows: int, user_bytes: int, rng) -> None:
        self.index = index
        self.acked_rows = rows
        self.user_bytes = user_bytes
        self.rng = rng


class IngestProbe:
    """Micro-batch appends, shortlist probes and cadence compaction on
    one streaming int8-IVF index, laid out as ``ivf_ingest_init``
    bootstraps it (the layout of ``tools/ingest_rung.py``). Every pass
    starts from a fresh copy of the bootstrapped index, so passes do the
    same work: per batch ``b`` in 1..BATCHES_PER_PASS it calls
    ``maybe_compact`` (which folds the earlier batches into the base
    when ``b`` is a multiple of COMPACT_EVERY), appends BATCH_ROWS
    vectors with ``coalesce=1``, then makes PROBES_PER_BATCH probes.
    The bootstrapped corpus is fixed, like the tables, so every seed
    probes the same index layout; the seed draws the appended and the
    query vectors."""

    DIM = 64
    BOOT_ROWS = 1000
    BATCH_ROWS = 200
    BATCHES_PER_PASS = 2
    PROBES_PER_BATCH = 1
    COMPACT_EVERY = 2
    CENTROIDS = 4
    K = 10
    EXPAND = 4
    NPROBE = 2

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.base = os.path.join(ctx.work_dir, "ann_base")
        self.passes: list[IngestPass] = []
        self.copies = 0

    def _frame(self, rng, n: int, id0: int):
        vecs = rng.standard_normal((n, self.DIM))
        return self.spark.createDataFrame(
            [(id0 + i, vecs[i].tolist()) for i in range(n)],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        )

    def setup(self, spark) -> None:
        from tajo_spark.streaming import ann_ingest

        self.spark = spark
        shutil.rmtree(self.base, ignore_errors=True)
        corpus = self._frame(np.random.default_rng(GEN_SEED), self.BOOT_ROWS, 0)
        self.model = ann_ingest.ivf_ingest_init(corpus, self.base,
                                                n_centroids=self.CENTROIDS)

    def teardown(self) -> None:
        pass

    @property
    def last(self) -> IngestPass:
        return self.passes[-1]

    def index_rows(self, index: str) -> int:
        """Rows on disk, read from the parquet footers (no Spark job)."""
        import glob

        import pyarrow.parquet as pq

        files = glob.glob(os.path.join(
            index, "centroid_id=*", "__batch_id=*", "*.parquet"))
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

    def _probe(self, index: str, qv: list[float]):
        from tajo_spark.operators.similarity import ivf_q8_shortlist

        return [
            (r["vec_id"], r["__q8_cos"])
            for r in ivf_q8_shortlist(self.spark, index, self.model, qv,
                                      k=self.K, nprobe=self.NPROBE,
                                      expand=self.EXPAND).collect()
        ]

    def _new_pass(self, rng) -> IngestPass:
        self.copies += 1
        index = f"{self.base}_pass{self.copies}"
        shutil.copytree(self.base, index)
        p = IngestPass(index, self.BOOT_ROWS, self.BOOT_ROWS * self.DIM * 8,
                       np.random.default_rng(rng.integers(2**63)))
        self.passes.append(p)
        return p

    def _appended(self, p: IngestPass) -> bool:
        p.acked_rows += self.BATCH_ROWS
        p.user_bytes += self.BATCH_ROWS * self.DIM * 8
        return p.acked_rows == self.index_rows(p.index)

    def _compact_op(self, p: IngestPass, b: int) -> Op:
        """``maybe_compact`` at the head of batch ``b``; when the cadence
        fires, a probe made just before must return the same rows just
        after."""
        from tajo_spark.streaming import ann_ingest

        def run():
            return ann_ingest.maybe_compact(self.spark, p.index, b,
                                            compact_every=self.COMPACT_EVERY)

        if not ann_ingest.cadence_fires(b, self.COMPACT_EVERY):
            return Op(f"compact_{b}", "write", run=run, post=lambda st: st is None)
        q = p.rng.standard_normal(self.DIM).tolist()
        seen = {}
        return Op(f"compact_{b}", "write", run=run,
                  pre=lambda: seen.update(before=self._probe(p.index, q)),
                  post=lambda st: (st is not None
                                   and self._probe(p.index, q) == seen["before"]))

    def ops(self, rng) -> list[Op]:
        from tajo_spark.streaming import ann_ingest

        if self.passes:
            shutil.rmtree(self.last.index)
        p = self._new_pass(rng)
        out = []
        for b in range(1, self.BATCHES_PER_PASS + 1):
            out.append(self._compact_op(p, b))
            batch = {}
            out.append(Op(
                f"append_{b}", "write",
                pre=lambda b=b, h=batch: h.update(df=self._frame(
                    p.rng, self.BATCH_ROWS, 1_000_000 + b * self.BATCH_ROWS)),
                run=lambda b=b, h=batch: ann_ingest.ivf_append_batch(
                    h["df"], self.model, p.index, batch_id=b, coalesce=1),
                post=lambda _r: self._appended(p),
            ))
            for _ in range(self.PROBES_PER_BATCH):
                qv = p.rng.standard_normal(self.DIM).tolist()
                out.append(Op(
                    f"probe_{b}", "read", run=lambda q=qv: self._probe(p.index, q),
                    post=lambda r: len(r) == self.K * self.EXPAND,
                ))
        return out


class CurationIngest:
    """The pipeline path and the write path in one process: a pass runs
    every curation callable, in an order drawn from the seed, then one
    ingest pass. The parts share the session and nothing else: the
    callables never read the ANN index the ingest part writes."""

    name = "curation_ingest"
    WARM_PASSES = 1
    # pass_wall_s takes each operation's median over the timed passes
    MIN_PASSES = 2
    BATCH_ROWS = IngestProbe.BATCH_ROWS
    COMPACT_EVERY = IngestProbe.COMPACT_EVERY

    def __init__(self, ctx) -> None:
        self.curation = CurationPipeline(ctx)
        self.ingest = IngestProbe(ctx)

    def setup(self, spark) -> None:
        self.curation.setup(spark)
        self.ingest.setup(spark)

    def teardown(self) -> None:
        self.curation.teardown()
        self.ingest.teardown()

    @property
    def last(self) -> IngestPass:
        return self.ingest.last

    def ops(self, rng) -> list[Op]:
        return self.curation.ops(rng) + self.ingest.ops(rng)

    def warm_ops(self, rng, first: bool) -> list[Op]:
        return self.curation.warm_ops(rng, first) + self.ingest.ops(rng)


WORKLOADS = {w.name: w for w in (SqlTpch, CurationIngest)}
