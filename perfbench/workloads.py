"""The benchmark's workloads: what one pass runs, and how its outputs are
checked.

Every op starts from released engine caches (``release_persists()`` plus
``clearCache()``), so it measures a one-shot pipeline, not a cache hit.
An op's result is compared with its result in the warm-up pass on every
timed pass, and the warm-up result with the DuckDB oracle once per run.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import gen


@dataclass
class OpResult:
    name: str
    latency: float
    ok: bool
    detail: str = ""


@dataclass
class PassResult:
    seconds: float
    rows: int
    ops: list[OpResult]
    #: (op kind, latency) samples of the pass: query ops, ingest ticks,
    #: time-travel reads, or loader batch waits
    samples: list[tuple[str, float]] = field(default_factory=list)
    extras: dict = field(default_factory=dict)


class Ctx:
    """What a workload needs from the run: the session, its directories,
    the seed, and (in a traced run) the tracer and per-op hooks."""

    def __init__(self, data: str, work: str, seed: int) -> None:
        self.data, self.work, self.seed = data, work, seed
        self.spark = None
        self.tracer = None
        self.op_stats: list[dict] = []

    def span(self, name: str, layer: str, **attrs):
        return self.tracer.span(name, layer, **attrs) if self.tracer else nullcontext()

    def wrap(self, fn, name: str, layer: str):
        return self.tracer.wrap(fn, name, layer) if self.tracer else fn

    def release(self) -> None:
        from datapipelines_spark.functions.caching import release_persists

        release_persists()
        self.spark.catalog.clearCache()

    @contextmanager
    def op(self, name: str, pass_no: int):
        """Span and job group of one op; in a traced run also samples the
        cached bytes at the op's end and the persistent RDDs that survive
        the release after it."""
        if self.tracer is None:
            yield
            return
        group = f"perfbench:{pass_no}:{name}:{len(self.op_stats)}"
        self.spark.sparkContext.setJobGroup(group, name)
        with self.tracer.span(name, "bench", group=group, op=True) as span:
            yield
        jsc = self.spark.sparkContext._jsc
        cached = sum(int(r.memSize()) + int(r.diskSize()) for r in jsc.sc().getRDDStorageInfo())
        self.release()
        self.op_stats.append({"span": span.id, "cached_bytes": cached,
                              "live_rdds": int(jsc.getPersistentRDDs().size())})


def digest(cols: list[str], rows: list[tuple]) -> tuple[str, list[tuple]]:
    from datapipelines_spark.testing import normalize_rows

    norm = normalize_rows(cols, rows)
    h = hashlib.sha256(repr((sorted(cols), norm)).encode()).hexdigest()
    return h, norm


class QueryWorkload:
    """Catalog builders ``(spark, dir) -> DataFrame``, each collected; with
    ``ingest`` also a streaming ingest of the crawl ticks plus one
    time-travel read per committed epoch."""

    def __init__(self, name: str, queries: list[str], fact_tables: list[str],
                 ingest: bool = False) -> None:
        self.name = name
        self.queries = queries
        self.fact_tables = fact_tables
        self.ingest = ingest
        self.reference: dict[str, tuple[str, list[str], list[tuple]]] = {}
        self.sizes: dict = {}

    # -------------------------------------------------------------- set-up
    def prepare(self, ctx: Ctx) -> dict:
        self.sizes = {"tables": gen.write_tables(ctx.data, ctx.seed)}
        if self.ingest:
            self.sizes["ingest"] = gen.write_ingest(os.path.join(ctx.data, "ingest"), ctx.seed)
        return self.sizes

    def samples_per_pass(self) -> int:
        return len(self.queries) + (2 * gen.TICKS if self.ingest else 0)

    def input_rows(self) -> int:
        rows = sum(self.sizes["tables"][t]["rows"] for t in self.fact_tables)
        if self.ingest:
            rows += self.sizes["ingest"]["tick_docs"]
        return rows

    def bind(self, ctx: Ctx) -> None:
        from datapipelines_spark.catalog import all_queries

        self.specs = all_queries()

    # ---------------------------------------------------------------- pass
    def run_pass(self, ctx: Ctx, pass_no: int) -> PassResult:
        units = self.queries + (["<ingest>"] if self.ingest else [])
        results: list[OpResult] = []
        samples: list[tuple[str, float]] = []
        extras: dict = {}
        t0 = time.perf_counter()
        for i in gen.op_order(ctx.seed, pass_no, len(units)):
            if units[i] == "<ingest>":
                ops, ticks, extras = self._ingest(ctx, pass_no)
                results += ops
                samples += [("ingest_tick", t) for t in ticks]
                samples += [("ingest_asof", o.latency) for o in ops
                            if o.name.startswith("ingest_asof_")]
            else:
                r = self._query(ctx, pass_no, units[i])
                results.append(r)
                samples.append((r.name, r.latency))
        seconds = time.perf_counter() - t0
        return PassResult(seconds, self.input_rows(), results, samples, extras)

    def _collect(self, ctx: Ctx, name: str, pass_no: int, build) -> OpResult:
        ctx.release()
        ok, detail = True, ""
        with ctx.op(name, pass_no):
            t0 = time.perf_counter()
            try:
                with ctx.span("build", "queries"):
                    df = build()
                with ctx.span("action", "exec"):
                    cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception as e:  # a failed op is counted, the loop goes on
                ok, detail = False, f"{type(e).__name__}: {e}"[:500]
            latency = time.perf_counter() - t0
        if ok:
            h, norm = digest(cols, rows)
            ref = self.reference.setdefault(name, (h, cols, norm))
            if ref[0] != h:
                ok, detail = False, "result differs from the warm-up pass"
        return OpResult(name, latency, ok, detail)

    def _query(self, ctx: Ctx, pass_no: int, name: str) -> OpResult:
        spec = self.specs[name]
        return self._collect(ctx, name, pass_no, lambda: spec.builder(ctx.spark, ctx.data))

    def _ingest(self, ctx: Ctx, pass_no: int):
        """One streaming replay of the tick files into fresh state, then a
        time-travel read at every committed epoch (in seeded order)."""
        from datapipelines_spark.queries.dedup import _MINHASH
        from datapipelines_spark.queries.ingest import _QUOTA_CAP
        from datapipelines_spark.queries.urls import BLOCKLIST
        from datapipelines_spark.streaming.ingest import (
            ingest_dedup_sink,
            read_ingest_verdicts,
        )

        spark = ctx.spark
        src = os.path.join(ctx.data, "ingest")
        state = os.path.join(ctx.work, "ingest_state")
        ckpt = os.path.join(ctx.work, "ingest_ckpt")
        shutil.rmtree(state, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        ctx.release()
        ends: list[float] = []
        busy: list[float] = []
        ok, detail = True, ""
        with ctx.op("ingest_stream", pass_no):
            t0 = time.perf_counter()
            try:
                corpus = spark.read.parquet(os.path.join(src, "corpus.parquet"))
                stream = (spark.readStream.schema("doc_id BIGINT, text STRING, url STRING")
                          .option("maxFilesPerTrigger", 1)
                          .parquet(os.path.join(src, "ticks")))
                sink = ingest_dedup_sink(corpus, state, blocklist=BLOCKLIST,
                                         quota_cap=_QUOTA_CAP, config=_MINHASH)

                def on_batch(df, epoch):
                    t = time.perf_counter()
                    with ctx.span(f"tick {epoch}", "ingest"):
                        sink(df, epoch)
                    busy.append(time.perf_counter() - t)
                    ends.append(time.perf_counter())

                q = (stream.writeStream.foreachBatch(on_batch)
                     .option("checkpointLocation", ckpt)
                     .trigger(availableNow=True).start())
                try:
                    q.awaitTermination()
                finally:
                    sink.release_standing()
                if len(ends) != gen.TICKS:
                    ok, detail = False, f"{len(ends)} ticks committed, want {gen.TICKS}"
            except Exception as e:
                ok, detail = False, f"{type(e).__name__}: {e}"[:500]
            stream_s = time.perf_counter() - t0
        ticks = [b - a for a, b in zip([t0] + ends, ends)]
        ops = [OpResult("ingest_stream", stream_s, ok, detail)]
        extras = {"tick_busy": busy, "stream_s": stream_s}
        if ok:
            files = nbytes = 0
            for dirpath, _, names in os.walk(state):
                for n in names:
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, n))
            extras.update(state_files=files,
                          state_bytes_per_input_byte=nbytes / self.sizes["ingest"]["tick_bytes"])
            for k in gen.op_order(ctx.seed, 1000 + pass_no, gen.TICKS):
                ops.append(self._collect(
                    ctx, f"ingest_asof_{k}", pass_no,
                    lambda k=k: self._verdicts(ctx, read_ingest_verdicts, state, k)))
        return ops, ticks, extras

    @staticmethod
    def _verdicts(ctx: Ctx, read, state: str, epoch: int):
        import pyspark.sql.functions as F

        with ctx.span("read_ingest_verdicts", "ingest"):
            v = read(ctx.spark, state, as_of_epoch=epoch)
        return v.select("doc_id", "verdict", "match_id", "domain",
                        F.col("quota_rank").cast("bigint").alias("quota_rank")
                        ).orderBy("doc_id")

    # --------------------------------------------------------------- check
    def oracle_sql(self, name: str) -> str:
        if not name.startswith("ingest_asof_"):
            return self.specs[name].oracle
        # The catalog's time-travel oracle replays 4 ticks and reads as of
        # epoch 1; re-aim it at this replay's tick count and epoch.
        sql = self.specs["stream_ingest_asof_replay"].oracle
        k = int(name.rsplit("_", 1)[1])
        for old, new in (("ntile(4)", f"ntile({gen.TICKS})"), ("tile <= 2", f"tile <= {k + 1}")):
            if old not in sql:
                raise ValueError(f"oracle template no longer contains {old!r}")
            sql = sql.replace(old, new)
        return sql

    def check(self, ctx: Ctx) -> list[tuple[str, bool, str]]:
        """Each op's warm-up result against its DuckDB oracle (and, for the
        time-travel reads, exactly one verdict per gated doc)."""
        from datapipelines_spark.testing import duckdb_connection, duckdb_result, normalize_rows

        out = []
        con = duckdb_connection(ctx.data)
        try:
            for name, (_, cols, norm) in sorted(self.reference.items()):
                try:
                    d_cols, d_rows = duckdb_result(con, self.oracle_sql(name))
                except Exception as e:
                    out.append((name, False, f"oracle failed: {e}"[:300]))
                    continue
                if sorted(cols) != sorted(d_cols):
                    out.append((name, False, f"columns {sorted(cols)} != {sorted(d_cols)}"))
                    continue
                if normalize_rows(d_cols, d_rows) != norm:
                    out.append((name, False, f"{len(norm)} rows differ from the oracle's {len(d_rows)}"))
                    continue
                if name.startswith("ingest_asof_"):
                    ids = [r[cols.index("doc_id")] for r in norm]
                    if len(ids) != len(set(ids)):
                        out.append((name, False, "a gated doc has more than one verdict"))
                        continue
                out.append((name, True, f"{len(norm)} rows match"))
        finally:
            con.close()
        return out


FEED_CONFIG = {
    "dataset": {
        "format": "tar",
        "preprocessors": [
            {"target": "datapipelines_spark.operators.fluent.PromoteMembers",
             "params": {"keys": ["png", "json", "txt"]}},
            {"target": "datapipelines_spark.operators.transforms.KeyFilter",
             "params": {"keys": ["png", "json"]}},
        ],
        "decoders": ["image", {"key": "json", "decoder": "json",
                               "schema": "width INT, height INT, label INT"}],
        "postprocessors": [
            {"target": "datapipelines_spark.operators.transforms.SizeFilter",
             "params": {"size_col": "json.width", "min_size": gen.MIN_WIDTH}},
            {"target": "datapipelines_spark.operators.transforms.Selector",
             "params": {"keys": ["__key__", "png", "json", "txt"]}},
        ],
    },
}

BATCH_SIZE = 64


def ppm_pixels(payload: bytes) -> bytes:
    """Pixel bytes of a binary P6 payload ('P6\\n<w> <h>\\n255\\n' header)."""
    return bytes(payload).split(b"\n", 3)[3]


class FeedWorkload:
    """WebDataset tar shards -> create_dataset -> create_loader, consumed to
    the end. One op per pass; latency samples are the loader's batch waits."""

    name = "train_feed"

    def __init__(self) -> None:
        self.expected: dict = {}

    def prepare(self, ctx: Ctx) -> dict:
        self.expected = gen.write_shards(os.path.join(ctx.data, "shards"), ctx.seed)
        return {"shards": self.expected}

    def samples_per_pass(self) -> int:
        return -(-self.expected["kept"] // BATCH_SIZE)

    def bind(self, ctx: Ctx) -> None:
        self.config = {"dataset": {**FEED_CONFIG["dataset"],
                                   "urls": os.path.join(ctx.data, "shards")}}

    def run_pass(self, ctx: Ctx, pass_no: int) -> PassResult:
        from datapipelines_spark.plans.pipeline import create_dataset
        from datapipelines_spark.sinks.loader import create_loader, dict_collate

        collate = ctx.wrap(dict_collate, "collation_fn", "loader")
        ctx.release()
        waits: list[float] = []
        keys: list[str] = []
        pixels: list[bytes] = []
        first = None
        ok, detail = True, ""
        with ctx.op("feed", pass_no):
            t0 = time.perf_counter()
            try:
                with ctx.span("create_dataset", "pipeline"):
                    df = create_dataset(ctx.spark, self.config)
                with ctx.span("create_loader", "exec"):
                    tw = time.perf_counter()
                    for batch in create_loader(df, batch_size=BATCH_SIZE, collation_fn=collate):
                        now = time.perf_counter()
                        waits.append(now - tw)
                        if first is None:
                            first = now - t0
                        keys.extend(batch["__key__"])
                        pixels.extend(batch["png"])
                        tw = time.perf_counter()
            except Exception as e:
                ok, detail = False, f"{type(e).__name__}: {e}"[:500]
            seconds = time.perf_counter() - t0
        if ok:
            key_sum = sum(gen.digest64(k.encode()) for k in keys) % 2**64
            pix_sum = sum(gen.digest64(ppm_pixels(p)) for p in pixels) % 2**64
            want = self.expected
            if (len(keys), key_sum, pix_sum) != (want["kept"], want["key_sum"], want["pixel_sum"]):
                ok, detail = False, (f"{len(keys)} samples, key/pixel checksums "
                                     f"{key_sum}/{pix_sum}; expected {want['kept']} samples, "
                                     f"{want['key_sum']}/{want['pixel_sum']}")
        extras = {"first_batch_s": first or 0.0, "batches": len(waits),
                  "wait_s": sum(waits)}
        if ok and ctx.tracer is not None:
            from spans import plan_python_metrics

            extras["python"] = plan_python_metrics(ctx.spark, df._jdf)
        return PassResult(seconds, len(keys), [OpResult("feed", seconds, ok, detail)],
                          [("batch", w) for w in waits], extras)

    def check(self, ctx: Ctx) -> list[tuple[str, bool, str]]:
        return []  # every pass is checked against the generator's checksums


ANALYTICS = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q21_suppliers_kept_orders_waiting",
    "window_topk_parts_per_supplier",
    "asof_join_last_order_before_event",
]

CORPUS = [
    "dedup_substring_removal",
]


def make(name: str):
    if name == "analytics_mix":
        return QueryWorkload(name, ANALYTICS, ["lineitem", "orders", "events"])
    if name == "corpus_prep":
        return QueryWorkload(name, CORPUS, ["documents"], ingest=True)
    if name == "train_feed":
        return FeedWorkload()
    raise KeyError(name)


WORKLOADS = ("analytics_mix", "corpus_prep", "train_feed")
