"""The benchmark's workloads: one closed-loop client calling the engine's
public functions.

Each workload has the same life cycle: ``generate`` writes its seeded
inputs under the work directory, ``prepare`` builds what every operation
reads, ``warm_up`` runs untimed operations, ``op(i)`` is the timed
operation and ``check`` compares every operation's result with an
independent reference after the timed window. ``layer_probes`` adds the
measurements that only a traced run takes.
"""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from go_muse_spark import kernels
from go_muse_spark.operators import compress, rollup, search
from go_muse_spark.plans import continuous
from go_muse_spark.plans.continuous import ContinuousAggregates
from go_muse_spark.sources.store import ParquetTableStore

import inputs
import reference


def _kernel_probe(tracer, series: np.ndarray, ref: np.ndarray) -> dict:
    """One direct in-process batch_xcorr over the workload's series."""
    spec = kernels.prepare_ref(ref)
    with tracer.span("kernels.batch_xcorr") as c:
        kernels.batch_xcorr(spec, series)
        c["series"] = series.shape[0]
    secs = tracer.total_s("kernels.batch_xcorr")
    return {
        "kernels.batch_xcorr_s": secs,
        "kernels.series_per_s": series.shape[0] / secs,
    }


# ================================================================ search


@dataclass(frozen=True)
class SearchSize:
    n_convs: int = 1000
    n_turns: int = 80_000
    span_min: int = 6000  # series length; FFT length 8192
    requests: int = 63  # timed ones, a multiple of len(inputs.PLANS); they cycle
    events: int = 20_000  # rows of the events table the entry probe reads


class Search:
    """Single-reference ``muse_search_rollup`` requests over a
    materialised 1m rollup of the seeded corpus, with two label columns
    to group by. The warm-up runs one request of every plan in
    ``inputs.PLANS``, so Spark has compiled every plan a timed request
    runs, and the timed requests take the plans in the same order in
    every run.

    Its traced run also times two engine paths no timed operation takes,
    each once and checked: ``encode_tiers_fused`` over the same 1m
    rollup, and the ``rollup_1m`` contract query of ``__spark_entry__``
    over a seeded events table."""

    name = "search"
    probe_checks: dict = {}  # set by layer_probes

    def __init__(self, work_dir: str, seed: int, size: SearchSize = SearchSize()) -> None:
        self.seed, self.size = seed, size
        self.work_dir = work_dir
        self.path = os.path.join(work_dir, "search-corpus.parquet")

    def generate(self) -> int:
        s = self.size
        table, self.engine_gen_s, self.engine_turns = inputs.search_corpus(
            self.seed, s.n_convs, s.n_turns, s.span_min
        )
        pq.write_table(table, self.path)
        # the warm-up runs one request of every plan
        self.n_warm = len(inputs.PLANS)
        self.requests = inputs.search_requests(self.seed, s.span_min, self.n_warm + s.requests)
        self.turns = table.num_rows
        return self.turns

    # any number of requests: they cycle
    max_ops = 10**6

    def bind(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def prepare(self) -> None:
        tr = self.tracer
        tx = self.spark.read.parquet(self.path)
        with tr.span("rollup") as c:
            conv_no = F.substring("conv_id", 2, 8).cast("int")
            rolled = (
                rollup.rollup_transcripts(tx, "1m")
                .withColumn("tenant", F.concat(F.lit("t"), (conv_no % 5).cast("string")))
                .withColumn("model", F.concat(F.lit("m"), (conv_no % 3).cast("string")))
            )
            self.rolled = rolled.localCheckpoint(eager=True)
            if tr.enabled:
                with tr.span("count", probe=True):
                    c["rows_in"] = self.turns
                    c["rows_out"] = self.rolled.count()
        with tr.span("search.bounds"):
            self.bounds = search.series_bounds(self.rolled, 60)
        self.nfft = kernels.next_pow_2(self.bounds[2])
        if tr.enabled:
            self._instrument()

    def warm_up(self) -> None:
        for j in range(self.n_warm):
            self._search(self.requests[j])

    def timed_request(self, i: int) -> dict:
        """The request of timed operation ``i``: the timed requests follow
        the warm-up's and cycle."""
        return self.requests[self.n_warm + i % self.size.requests]

    def op(self, i: int) -> list[tuple]:
        return self._search(self.timed_request(i))

    def _search(self, req: dict) -> list[tuple]:
        params = search.SearchParams(
            top_n=req["top_n"], max_lag=req["max_lag"], threshold=0.0,
            sign=req["sign"], mode=req["mode"],
        )
        rows = search.muse_search_rollup(
            self.rolled, req["ref"], 60,
            group_by=list(req["group_by"]) if req["group_by"] else None,
            params=params, bounds=self.bounds,
        ).collect()
        return [(r["group_key"], r["series_key"], int(r["lag"]), float(r["score"])) for r in rows]

    def op_turns(self, i: int) -> int:
        return self.turns

    # -------------------------------------------------------- tracing

    def _instrument(self) -> None:
        """Spans around the functions ``muse_search_rollup`` calls. Each
        wrapper materialises the function's output before its span ends,
        so the function's time lands on it (this changes the plan of
        traced runs only)."""
        tr = self.tracer
        real_score, real_topk = search.score_rollup, search.top_k

        def traced_score(rolled, *a, **kw):
            if not tr.active:
                return real_score(rolled, *a, **kw)
            with tr.span("search.score") as c:
                out = real_score(rolled, *a, **kw).localCheckpoint(eager=True)
                with tr.span("count", probe=True):
                    # the series the engine was handed to score
                    c["series"] = rolled.select("conv_id").distinct().count()
            return out

        def traced_topk(scored, *a, **kw):
            if not tr.active:
                return real_topk(scored, *a, **kw)
            with tr.span("search.topk"):
                return real_topk(scored, *a, **kw).localCheckpoint(eager=True)

        search.score_rollup, search.top_k = traced_score, traced_topk
        self._restore = (real_score, real_topk)

    def close(self) -> None:
        if getattr(self, "_restore", None):
            search.score_rollup, search.top_k = self._restore
            self._restore = None

    # -------------------------------------------------------- checking

    def _series(self) -> tuple[np.ndarray, dict, np.ndarray]:
        """(series keys, label arrays, dense zero-filled matrix) of the rollup."""
        pdf = self.rolled.select("conv_id", "bucket_ts", "turn_cnt", "tenant", "model").toPandas()
        self._rolled_pdf = pdf
        keys, row = np.unique(pdf["conv_id"].to_numpy(), return_inverse=True)
        lo = np.datetime64(self.bounds[0], "us")
        col = (pdf["bucket_ts"].to_numpy().astype("datetime64[us]") - lo) // np.timedelta64(60, "s")
        series = np.zeros((keys.size, self.bounds[2]))
        series[row, col.astype(np.int64)] = pdf["turn_cnt"].to_numpy()
        first = np.unique(row, return_index=True)[1]
        labels = {k: pdf[k].to_numpy()[first].astype(str) for k in ("tenant", "model")}
        return keys.astype(str), labels, series

    def check(self, results: list[list[tuple]]) -> list[bool]:
        keys, labels, self.series = self._series()
        ref = reference.SearchReference(keys, labels, self.series)
        reqs = [self.timed_request(i) for i in range(len(results))]
        return [reference.topk_matches(got, ref.top_k(req), req["top_n"]) for got, req in zip(results, reqs)]

    # -------------------------------------------------------- probes

    def _fused_probe(self) -> tuple[dict, bool]:
        """One ``encode_tiers_fused`` pass over the 1m rollup; every
        conversation's chunks must hold its dense spine in each tier."""
        tr = self.tracer
        with tr.span("compress.fused") as c:
            chunks = compress.encode_tiers_fused(self.rolled).localCheckpoint(eager=True)
            with tr.span("count", probe=True):
                got = chunks.groupBy("conv_id", "tier").agg(
                    F.sum("n_points").alias("points"),
                    F.sum(F.length("ts_bytes") + F.length("val_bytes")).alias("bytes"),
                ).toPandas()
                c["points"] = int(got["points"].sum())
                c["bytes"] = int(got["bytes"].sum())
        want = reference.spine_lengths(self._rolled_pdf)
        got = got.set_index(["conv_id", "tier"])["points"].astype("int64").sort_index()
        ok = got.equals(want)
        secs = tr.total_s("compress.fused")
        return {
            "compress.fused_s": secs,
            "compress.fused_points_per_s": c["points"] / secs,
            "compress.fused_bytes_per_point": c["bytes"] / c["points"],
        }, ok

    def layer_probes(self) -> dict:
        tr = self.tracer
        out = _kernel_probe(tr, self.series, self.timed_request(0)["ref"])
        fused, fused_ok = self._fused_probe()
        entry, entry_ok = _entry_probe(tr, self.spark, self.work_dir, self.seed, self.size.events)
        self.probe_checks = {"compress.fused": fused_ok, "entry.rollup_1m": entry_ok}
        out.update(fused)
        out.update(entry)
        per_req = max(len(tr.named("search.score")), 1)
        st = tr.stats("search.score")
        st.add(tr.stats("search.topk"))
        score_s = tr.self_s("search.score")
        out.update({
            "rollup.self_s": tr.self_s("rollup"),
            "rollup.rows_in": tr.counts("rollup", "rows_in"),
            "rollup.rows_out": tr.counts("rollup", "rows_out"),
            "search.bounds_s": tr.total_s("search.bounds"),
            "search.score_self_s": score_s / per_req,
            "search.topk_self_s": tr.self_s("search.topk") / per_req,
            "search.series_scored": tr.counts("search.score", "series") / per_req,
            "search.series_per_s": tr.counts("search.score", "series") / score_s if score_s else 0.0,
            "search.nfft": self.nfft,
            "search.tasks": st.tasks / per_req,
            "search.shuffle_bytes": st.shuffle_bytes / per_req,
        })
        return out


ENTRY_QUERY = "rollup_1m"
ENTRY_REPEATS = 3


def _entry_probe(tracer, spark, work_dir: str, seed: int, n_events: int) -> tuple[dict, bool]:
    """The ``rollup_1m`` contract query of ``__spark_entry__`` over a
    seeded events table: building its DataFrame, planning it and running
    it to a noop sink, each ``ENTRY_REPEATS`` times (medians reported).
    The result must equal the query's DuckDB oracle over the same file."""
    import __spark_entry__ as entry

    sf_dir = os.path.join(work_dir, "events")
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(inputs.events(seed, n_events), path)
    query = entry.queries()[ENTRY_QUERY]
    for _ in range(ENTRY_REPEATS):
        with tracer.span("entry.build"):
            df = query(spark, sf_dir)
        with tracer.span("entry.plan"):
            df._jdf.queryExecution().executedPlan()  # noqa: SLF001
        with tracer.span("entry.exec"):
            df.write.format("noop").mode("overwrite").save()
    with tracer.suspended():
        got = df.toPandas()
    want = reference.duckdb_query(entry.oracle_sql()[ENTRY_QUERY], {"events": path})
    ok = reference.frames_match(got, want)

    def med(name):
        return statistics.median(s.duration for s in tracer.named(name))

    runs = tracer.named("entry.exec")
    return {
        "entry.build_s": med("entry.build"),
        "entry.build_jobs": tracer.stats("entry.build").jobs / ENTRY_REPEATS,
        "entry.plan_s": med("entry.plan"),
        "entry.exec_s": med("entry.exec"),
        "entry.single_task_stages": tracer.stats("entry.exec").single_task_stages / len(runs),
    }, ok


# ================================================================ ingest


@dataclass(frozen=True)
class IngestSize:
    n_convs: int = 1000
    turns_per_batch: int = 15_000  # about a day of the stream
    n_batches: int = 4


def _dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Ingest:
    """Transcript delta batches of equal size through
    ``ContinuousAggregates.ingest`` into a ``ParquetTableStore``, each
    followed by one read of the merged 1h tier. The batches carry late
    turns and in-batch duplicates.

    The warm-up delivers the first two batches untimed: the first creates
    every table, the second is the first merge. Every timed operation is
    then a merge of about the same cost: a re-delivery of batch one under
    a new run id, then the remaining batches. So a run's median does not
    depend on how many operations fit in its window."""

    name = "ingest"
    probe_checks: dict = {}

    def __init__(self, work_dir: str, seed: int, size: IngestSize = IngestSize()) -> None:
        self.seed, self.size = seed, size
        self.work_dir = work_dir
        self.delta_dir = os.path.join(work_dir, "deltas")

    def generate(self) -> int:
        s = self.size
        batches, self.engine_gen_s, self.engine_turns = inputs.ingest_batches(
            self.seed, s.n_convs, s.turns_per_batch, s.n_batches
        )
        os.makedirs(self.delta_dir, exist_ok=True)
        self.paths = []
        for b, table in enumerate(batches):
            path = os.path.join(self.delta_dir, f"batch-{b}.parquet")
            pq.write_table(table, path)
            self.paths.append(path)
        self.batch_rows = [t.num_rows for t in batches]
        self.warm_deliveries = [("batch-0", 0), ("batch-1", 1)]
        self.deliveries = [("redeliver-1", 1)] + [(f"batch-{b}", b) for b in range(2, s.n_batches)]
        return sum(self.batch_rows)

    @property
    def max_ops(self) -> int:
        return len(self.deliveries)

    def bind(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def prepare(self) -> None:
        self.frames = [self.spark.read.parquet(p) for p in self.paths]
        self.store = ParquetTableStore(self.spark, os.path.join(self.work_dir, "store"))
        self.ca = ContinuousAggregates(self.store)
        if self.tracer.enabled:
            self._instrument()

    def warm_up(self) -> None:
        for run_id, b in self.warm_deliveries:
            self.ca.ingest(self.frames[b], run_id)
            self.store.read("rollup_1h").agg(F.sum("turn_cnt")).collect()

    def op(self, i: int) -> tuple:
        run_id, b = self.deliveries[i]
        tr = self.tracer
        with tr.span("continuous.ingest") as c:
            metrics = self.ca.ingest(self.frames[b], run_id)
            c["batches"] = 1
            c["turns"] = self.batch_rows[b]
            c["dup_keys"] = metrics.get("_dup_keys", 0)
        with tr.span("store.read"):
            row = self.store.read("rollup_1h").agg(
                F.sum("turn_cnt").alias("turns"), F.count(F.lit(1)).alias("buckets")
            ).collect()[0]
        return (b, int(row["turns"]), int(row["buckets"]))

    def op_turns(self, i: int) -> int:
        return self.batch_rows[self.deliveries[i][1]]

    # -------------------------------------------------------- tracing

    def _instrument(self) -> None:
        """Spans around the modules ContinuousAggregates calls. Each
        wrapper materialises the layer's output before its span ends, so
        the layer's time lands on it (this changes the plan of traced
        runs only)."""
        tr = self.tracer
        real_rollup, real_encode = continuous.rollup_transcripts, continuous.encode_chunks
        real_upsert = ParquetTableStore.upsert

        def traced_rollup(df, tier, *a, **kw):
            if not tr.active:
                return real_rollup(df, tier, *a, **kw)
            with tr.span("rollup") as c:
                out = real_rollup(df, tier, *a, **kw).localCheckpoint(eager=True)
                with tr.span("count", probe=True):
                    c["rows_in"] = df.count()
                    c["rows_out"] = out.count()
            return out

        def traced_encode(filled, tier, value_col="turn_cnt", *a, **kw):
            if not tr.active:
                return real_encode(filled, tier, value_col, *a, **kw)
            with tr.span("compress.encode") as c:
                out = real_encode(filled, tier, value_col, *a, **kw).localCheckpoint(eager=True)
                with tr.span("count", probe=True):
                    row = out.agg(
                        F.sum("n_points").alias("p"),
                        F.sum(F.length("ts_bytes") + F.length("val_bytes")).alias("b"),
                    ).collect()[0]
                    c["points_out"] = int(row["p"] or 0)
                    c["bytes_out"] = int(row["b"] or 0)
                    # rows per encode task under the encoder's own hash split
                    n_part = self.spark.sparkContext.defaultParallelism
                    sizes = [
                        r["n"] for r in filled.select("conv_id").repartition(n_part, "conv_id")
                        .groupBy(F.spark_partition_id().alias("p")).agg(F.count(F.lit(1)).alias("n"))
                        .collect()
                    ]
                    if sizes:
                        c.setdefault("skew", []).append(max(sizes) / statistics.median(sizes))
            return out

        def traced_upsert(store, delta, table, *a, **kw):
            if not tr.active:
                return real_upsert(store, delta, table, *a, **kw)
            with tr.span("store.upsert") as c:
                before = _dir_files(store.path(table))
                n = real_upsert(store, delta, table, *a, **kw)
                with tr.span("count", probe=True):
                    new = {p: s for p, s in _dir_files(store.path(table)).items() if p not in before}
                    c["calls"] = 1
                    c["rows_written"] = n
                    c["files_written"] = sum(1 for p in new if p.endswith(".parquet"))
                    c["bytes_written"] = sum(new.values())
            return n

        continuous.rollup_transcripts = traced_rollup
        continuous.encode_chunks = traced_encode
        ParquetTableStore.upsert = traced_upsert
        self._restore = (real_rollup, real_encode, real_upsert)

    def close(self) -> None:
        if getattr(self, "_restore", None):
            continuous.rollup_transcripts, continuous.encode_chunks, ParquetTableStore.upsert = self._restore
            self._restore = None

    # -------------------------------------------------------- checking

    def check(self, results: list[tuple]) -> list[bool]:
        batches = [pq.read_table(p).to_pandas() for p in self.paths]
        ok = []
        delivered = [batches[b] for _, b in self.warm_deliveries]
        for b, turns, buckets in results:
            delivered.append(batches[b])
            want = reference.distinct_turns(delivered)
            hours = want.assign(h=want["ts"].dt.floor("h"))[["conv_id", "h"]].drop_duplicates()
            ok.append(turns == len(want) and buckets == len(hours))
        state_ok = self._tiers_match(reference.distinct_turns(delivered)) and self._replay_is_noop()
        return [o and state_ok for o in ok]

    def _tiers_match(self, turns) -> bool:
        tiers = {t: self.store.read(f"rollup_{t}").toPandas() for t in ("1m", "1h", "1d")}
        self._hourly = tiers["1h"]
        if not all(reference.tier_matches(got, reference.rollup(turns, t)) for t, got in tiers.items()):
            return False
        with self.tracer.span("compress.decode"):
            decoded = compress.decode_chunks(self.store.read("chunks_1h")).toPandas()
        dense = reference.dense_hourly(tiers["1h"])
        decoded = decoded.sort_values(["conv_id", "bucket_ts"])
        if set(decoded["conv_id"]) != set(dense):
            return False
        for conv, g in decoded.groupby("conv_id", sort=False):
            ts = g["bucket_ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            want_ts, want_vals = dense[conv]
            if not (np.array_equal(ts, want_ts) and np.array_equal(g["turn_cnt"].to_numpy(), want_vals)):
                return False
        return True

    def _replay_is_noop(self) -> bool:
        """Re-running the first committed delivery changes no file."""
        run_id, b = self.warm_deliveries[0]
        before = _dir_files(self.store.root)
        with self.tracer.span("continuous.replay"):
            out = self.ca.ingest(self.frames[b], run_id)
        return out == {} and _dir_files(self.store.root) == before

    def layer_probes(self) -> dict:
        tr = self.tracer
        hourly = reference.dense_hourly(self._hourly)
        # one matrix of every conversation's hourly series, aligned on the
        # global hour range as the search would align them
        lo = min(ts[0] for ts, _ in hourly.values())
        hi = max(ts[-1] for ts, _ in hourly.values())
        step = 3_600_000_000
        series = np.zeros((len(hourly), (hi - lo) // step + 1))
        for r, (ts, vals) in enumerate(hourly.values()):
            series[r, (ts - lo) // step] = vals
        ref = np.zeros(series.shape[1])
        ref[series.shape[1] // 4 : series.shape[1] // 4 + 5] = [1.0, 3.0, 5.0, 3.0, 1.0]
        out = _kernel_probe(tr, series, ref)
        batches = tr.counts("continuous.ingest", "batches") or 1
        enc = tr.named("compress.encode")
        skew = [x for s in enc for x in s.counts.get("skew", [])]
        points = tr.counts("compress.encode", "points_out")
        written = tr.counts("store.upsert", "bytes_written")
        turns = tr.counts("continuous.ingest", "turns")
        enc_stats = tr.stats("compress.encode")
        out.update({
            "store.upsert_s": tr.total_s("store.upsert") / batches,
            "store.upsert_calls": tr.counts("store.upsert", "calls") / batches,
            "store.read_s": tr.total_s("store.read") / max(len(tr.named("store.read")), 1),
            "store.rows_written": tr.counts("store.upsert", "rows_written") / batches,
            "store.bytes_written": written / batches,
            "store.files_written": tr.counts("store.upsert", "files_written") / batches,
            "store.bytes_per_turn": written / turns if turns else 0.0,
            "continuous.ingest_s": tr.total_s("continuous.ingest") / batches,
            "continuous.self_s": tr.self_s("continuous.ingest") / batches,
            "continuous.dup_keys": tr.counts("continuous.ingest", "dup_keys") / batches,
            "continuous.replay_s": tr.total_s("continuous.replay"),
            "rollup.self_s": tr.self_s("rollup") / batches,
            "rollup.rows_in": tr.counts("rollup", "rows_in") / batches,
            "rollup.rows_out": tr.counts("rollup", "rows_out") / batches,
            "compress.encode_self_s": tr.self_s("compress.encode") / batches,
            "compress.decode_self_s": tr.self_s("compress.decode"),
            "compress.tasks": enc_stats.tasks / batches,
            "compress.points_out": points / batches,
            "compress.bytes_out": tr.counts("compress.encode", "bytes_out") / batches,
            "compress.bytes_per_point": tr.counts("compress.encode", "bytes_out") / points if points else 0.0,
            "compress.partition_rows_max_over_median": statistics.median(skew) if skew else 0.0,
        })
        return out


WORKLOADS = {"search": Search, "ingest": Ingest}
