"""The benchmark's three workloads, driven only through the library's
public API (METHOD.md gives their sizes and why each one exists).

Each workload has the same shape:

- ``setup()`` generates its inputs from the seed and materialises them;
  ``teardown_inputs()`` drops them again, so that set-up can be timed
  more than once in a run;
- ``prepare()`` computes, untimed and once, the exact answers the checks
  compare against;
- ``cycle(traced)`` runs one round of the measured operations and adds
  samples to the ``Run``; ``traced`` says that the round records spans
  around the calls into each layer;
- ``min_cycles_done()`` says whether enough rounds ran for every
  end-to-end metric to be defined;
- ``finish()`` runs the untimed end-of-run checks and returns the
  workload's end-to-end metrics; ``layers()`` (traced mode only) runs the
  twin jobs and returns per-layer metrics that spans cannot give.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
import traceback
from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from prefix_filter_spark import functions as pfs_functions
from prefix_filter_spark.plans.sharding import hashed_key_col, shard_col, widen_key_col
from prefix_filter_spark.sketches import base, cms, hll, kll, mg
from prefix_filter_spark.sketches import prefix_filter as pfm
from prefix_filter_spark.sources import file_index, iceberg
from prefix_filter_spark.sources.synthetic import (
    exploded_token_stream,
    synthetic_documents,
)

from measure import median

PF_SEED = 42
PF_SHARDS = 32
NEEDLE_KEYS = 8  # keys per driver-side needle lookup: half members, half not
# needle lookups come in bursts of this many, one after the build and one
# after the probe of every round, so that they sample the host's speed at
# many moments of the run
NEEDLES_PER_BURST = 10
TWIN_REPEATS = 2
HLL_SIGMAS = 3.0  # the distinct-count check allows three standard errors
TRACED = "@traced"  # suffix of samples taken while spans are recorded


class Run:
    """Samples, check counts and spans of one benchmark run."""

    def __init__(self, spark, tracer, rss):
        self.spark = spark
        self.tracer = tracer
        self.rss = rss
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._groups = 0

    def add(self, name: str, value: float) -> None:
        """Record a sample; samples of traced rounds are kept apart so
        that tracing cannot move the end-to-end numbers."""
        self.samples[name + TRACED if self.tracer.enabled else name].append(value)

    def timed(self, name: str, fn, sample_rss: bool = True):
        """Run ``fn`` as one attempted operation, record its seconds under
        ``name`` and return ``(result, seconds)``. An exception counts as
        a failed operation and propagates. The process tree's RSS is
        sampled after the call unless ``sample_rss`` is false (for the
        millisecond needle lookups, where /proc reads would dominate)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            self.failures.append(f"{name}: {traceback.format_exc(limit=4)}")
            raise
        dt = time.perf_counter() - t0
        self.add(name, dt)
        if sample_rss:
            self.rss.sample()
        return out, dt

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"check failed: {name} {detail}".rstrip())

    def job_group(self, label: str) -> str:
        """Tag the Spark jobs that follow with a fresh group id."""
        self._groups += 1
        group = f"{label}-{self._groups}"
        self.spark.sparkContext.setJobGroup(group, label)
        return group

    def jobs(self, group: str) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def shuffle_written(self, group: str) -> tuple[int, int]:
        """(bytes, records) written to shuffle by the group's stages, from
        the stages' SQL metrics in the status store."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        nbytes = nrec = 0
        for job in self.jobs(group):
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else []:
                data = store.lastStageAttempt(stage)
                nbytes += data.shuffleWriteBytes()
                nrec += data.shuffleWriteRecords()
        return nbytes, nrec


def _noop(df) -> None:
    """Execute every partition of ``df`` and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn, repeats: int = TWIN_REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


class FilterWorkload:
    """The build / UDF probe / needle-lookup path shared by the two
    prefix-filter workloads; subclasses make the inputs and probes."""

    key = "key"
    n_capacity = 0
    overhead_sample = "build_s"  # traced minus untraced gives trace.overhead_s

    def __init__(self, run: Run, seed: int, work_dir: str):
        self.run = run
        self.spark = run.spark
        self.seed = seed
        self.cfg = pfm.PrefixFilterConfig(
            n_capacity=self.n_capacity, num_shards=PF_SHARDS, seed=PF_SEED
        )
        self.handle = None
        self.contains = None
        self.first_states: dict[int, bytes] | None = None
        self.n_cycles = 0
        self.n_needles = 0

    def build(self):
        """Input frame -> predecoded, registered probe handle."""
        tr = self.run.tracer
        with tr.span("build"):
            with tr.span("sketches.prefix_filter.build_prefix_filter"):
                shards = pfm.build_prefix_filter(self.src, self.key, self.cfg)
            with tr.span("sketches.base.collect_states"):
                states = base.collect_states(shards)
            handle = pfm.ShardedPrefixFilter(self.cfg, states)
            with tr.span("functions.register_contains_udf"):
                contains = pfs_functions.register_contains_udf(
                    self.spark, "pf_contains", handle, PF_SEED
                )
        return handle, contains

    def do_build(self) -> None:
        group = self.run.job_group("build")
        (handle, contains), _ = self.run.timed("build_s", self.build)
        self.run.add("spark.jobs_per_build", len(self.run.jobs(group)))
        if self.contains is not None:
            self.contains.broadcast.unpersist()
        self.handle, self.contains = handle, contains
        if self.first_states is None:
            self.first_states = handle.states
        else:
            self.run.check(
                "builds from one seed give byte-identical states",
                handle.states == self.first_states,
            )

    def needles(self) -> None:
        """A closed loop of driver-side needle lookups, one client.

        Each lookup runs on the next CPU of the process's affinity in
        turn, moved there before its clock starts. On a shared host the
        speed of one CPU drifts by up to 2x over seconds; left to the
        scheduler, the lookups of a run stay on one or two CPUs and the
        run reports those CPUs' speed."""
        half = NEEDLE_KEYS // 2
        members, others = self.needle_members, self.needle_others
        cpus = sorted(os.sched_getaffinity(0))
        try:
            for _ in range(NEEDLES_PER_BURST):
                at = self.n_needles * half
                os.sched_setaffinity(0, {cpus[self.n_needles % len(cpus)]})
                self.n_needles += 1
                m = [members[(at + j) % len(members)] for j in range(half)]
                o = [others[(at + j) % len(others)] for j in range(half)]
                hits, _ = self.run.timed(
                    "lookup_s",
                    lambda: pfs_functions.probe_keys_local(self.handle, m + o),
                    sample_rss=False,
                )
                self.run.check("needle member keys hit", bool(hits.iloc[:half].all()))
        finally:
            os.sched_setaffinity(0, cpus)

    def warm_up(self) -> None:
        self.cycle(False)

    def min_cycles_done(self) -> bool:
        return self.n_cycles >= 3  # the warm-up round and two measured ones

    def check_yes_local(self) -> None:
        hits, _ = self.run.timed(
            "functions.probe_local_s",
            lambda: pfs_functions.probe_keys_local(self.handle, self.yes_local_keys),
        )
        self.run.check("every yes-probe hits (probe_keys_local)", bool(hits.all()))

    def filter_metrics(self) -> dict:
        return {
            "build_s": median(self.run.samples["build_s"]),
            "bits_per_key": self.handle.byte_size() * 8 / self.n_distinct,
            "probe_rows_per_s": median(self.run.samples["probe_rows_per_s"]),
        }

    def build_twins(self) -> dict:
        """The build's cumulative twin jobs on the same cached input, each
        timed from outside (median of TWIN_REPEATS), then one more build
        whose shard rows are collected whole for the lineage columns and
        the exchange's metrics."""
        src, key, cfg = self.src, self.key, self.cfg
        keyed = src.select(hashed_key_col(widen_key_col(src, key), cfg.seed).alias("h"))
        shard = shard_col(F.col("h"), cfg.num_shards)

        def identity(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame({"n": [len(pdf)]})

        stages = {
            "twin.scan_s": lambda: _noop(src.select(key)),
            "twin.hash_shuffle_s": lambda: _noop(keyed.repartition(shard)),
            "twin.arrow_ship_s": lambda: _noop(
                keyed.groupBy(shard.alias("shard_id")).applyInPandas(identity, "n long")
            ),
            "twin.full_build_s": lambda: _noop(pfm.build_prefix_filter(src, key, cfg)),
            "twin.collect_register_s": self.build,
        }
        out = {name: _median_time(fn) for name, fn in stages.items()}
        chain = [out[k] for k in list(stages)[:4]]
        out["twin.monotone"] = float(all(a <= b for a, b in zip(chain, chain[1:])))
        out["plans.sharding.hash_shuffle_s"] = out["twin.hash_shuffle_s"] - out["twin.scan_s"]
        out["sketches.base.arrow_ship_s"] = (
            out["twin.arrow_ship_s"] - out["twin.hash_shuffle_s"]
        )

        group = self.run.job_group("stats-build")
        rows = pfm.build_prefix_filter(src, key, cfg).collect()
        nbytes, nrec = self.run.shuffle_written(group)
        states = {r["shard_id"]: bytes(r["state"]) for r in rows}
        self.run.check(
            "builds from one seed give byte-identical states", states == self.first_states
        )
        n_keys = np.array([r["n_keys"] for r in rows], dtype=np.float64)
        in_rows = np.array([r["input_rows"] for r in rows], dtype=np.float64)
        build_ns = np.array([r["build_ns"] for r in rows], dtype=np.float64)
        out.update(
            {
                "exchange.shuffle_bytes": float(nbytes),
                "exchange.shuffle_records": float(nrec),
                "sketches.base.py_rows": float(in_rows.sum()),
                "sketches.base.useful_row_ratio": float(n_keys.sum() / in_rows.sum()),
                "sketches.base.kernel_s": float(build_ns.sum() / 1e9),
                "sketches.base.kernel_max_shard_s": float(build_ns.max() / 1e9),
                "sketches.base.shard_skew": float(in_rows.max() / np.median(in_rows)),
                "sketches.base.state_bytes": float(sum(len(s) for s in states.values())),
            }
        )
        return out

    def probe_floor(self, frame) -> float:
        """Seconds of the UDF probe's twin with an always-true pandas UDF."""

        @F.pandas_udf("boolean")
        def always(h: pd.Series) -> pd.Series:
            return pd.Series(np.ones(len(h), dtype=bool))

        h = hashed_key_col(widen_key_col(frame, self.key), PF_SEED)
        return _median_time(lambda: frame.filter(always(h)).count())


class ZipfTokens(FilterWorkload):
    """Zipf token stream: heavy key repetition, ~0.5% distinct rows."""

    key = "token"
    n_docs = 8_000
    vocab = 5_000
    n_capacity = vocab
    n_negatives = 1_000_000  # token ids >= vocab never occur

    def _stream(self, seed: int):
        docs = synthetic_documents(self.spark, self.n_docs, vocab_size=self.vocab, seed=seed)
        return exploded_token_stream(docs).select("token").cache()

    def setup(self) -> None:
        self.src = self._stream(self.seed)
        self.n_rows = self.src.count()
        self.held = self._stream(self.seed + 1)
        self.n_held = self.held.count()

    def teardown_inputs(self) -> None:
        self.src.unpersist(blocking=True)
        self.held.unpersist(blocking=True)

    def prepare(self) -> None:
        distinct = self.src.distinct()
        tokens = sorted(int(r[0]) for r in distinct.collect())
        self.n_distinct = len(tokens)
        self.yes_local_keys = tokens
        self.held_member_rows = self.held.join(distinct, "token", "left_semi").count()
        self.count_tok0 = self.src.where(F.col("token") == 0).count()
        self.needle_members = tokens
        self.needle_others = list(range(self.vocab, self.vocab + 2000))
        pfs_functions.register_sketch_sql(self.spark)

    def suite(self) -> dict[str, bytes]:
        """HLL + CMS + KLL + MG in one pass, tree-merged and collected,
        then read back through the SQL estimate functions."""
        tr = self.run.tracer
        sketches = {
            "hll": ("tok", lambda: hll.HllAccumulator(hll.HllConfig())),
            "cms": ("tok", lambda: cms.CmsAccumulator(cms.CmsConfig())),
            "kll": ("tok", lambda: kll.KllSketch(kll.KllConfig())),
            "mg": ("tok", lambda: mg.MgAccumulator(mg.MgConfig())),
        }
        merges = {
            "hll": hll.merge_states,
            "cms": cms.merge_states,
            "kll": kll.merge_states,
            "mg": mg.merge_states,
        }
        with tr.span("suite"):
            with tr.span("sketches.base.build_partials_multi"):
                partials = base.build_partials_multi(
                    self.src, {"tok": F.col("token").cast("long")}, sketches
                ).cache()
                partials.count()
            states = {}
            try:
                for name, merge in merges.items():
                    with tr.span("sketches.base.tree_merge"):
                        row = base.tree_merge(
                            partials.where(F.col("sketch") == name), merge
                        ).first()
                    states[name] = bytes(row["state"])
            finally:
                partials.unpersist()
            with tr.span("functions.sql_estimate"):
                self.spark.range(1).select(
                    *[F.lit(bytearray(states[n])).alias(n) for n in ("hll", "cms", "kll")]
                ).createOrReplaceTempView("suite_states")
                est = self.spark.sql(
                    "SELECT hll_estimate(hll) AS d, "
                    "cms_point(cms, CAST(0 AS BIGINT)) AS c0, "
                    "kll_quantile(kll, 0.5) AS q50 FROM suite_states"
                ).first()
        rel = abs(est["d"] - self.n_distinct) / self.n_distinct
        bound = HLL_SIGMAS * hll.HllConfig().rel_error()
        self.run.check("HLL distinct count within its error bound", rel <= bound, f"{rel}")
        self.run.check("CMS point estimate never undercounts", est["c0"] >= self.count_tok0)
        self.run.check(
            "KLL median from SQL equals the collected state's",
            est["q50"] == kll.KllSketch.from_bytes(states["kll"]).quantile(0.5),
        )
        self.distinct_rel_err = rel
        self.suite_states = states
        return states

    def probe(self) -> None:
        held, c = self.held, self.contains
        hits, dt = self.run.timed(
            "functions.probe_udf_s", lambda: held.filter(c(self.key, df=held)).count()
        )
        self.run.add("probe_rows_per_s", self.n_held / dt)
        self.run.check(
            "held-out members all hit (UDF)",
            hits >= self.held_member_rows,
            f"{hits} < {self.held_member_rows}",
        )

    def run_suite(self) -> None:
        group = self.run.job_group("suite")
        self.run.timed("sketch_suite_s", self.suite)
        self.run.add("spark.jobs_per_suite", len(self.run.jobs(group)))

    def warm_up(self) -> None:
        # the suite's checks run here in every run; its time is measured
        # in the traced rounds only, which keeps untraced rounds short
        self.run_suite()
        self.cycle(False)

    def cycle(self, traced: bool) -> None:
        self.do_build()
        self.needles()
        if traced:
            self.run_suite()
        self.probe()
        self.needles()
        self.n_cycles += 1

    def finish(self) -> dict:
        src, c = self.src, self.contains
        hits = src.filter(c(self.key, df=src)).count()
        self.run.check("every yes-probe hits (UDF)", hits == self.n_rows, f"{hits}")
        self.check_yes_local()
        neg = pfs_functions.probe_keys_local(
            self.handle, range(self.vocab, self.vocab + self.n_negatives)
        )
        self.kll_rank_err = self._kll_median_rank_err()
        out = self.filter_metrics()
        out["fpr"] = float(neg.mean())
        return out

    def _kll_median_rank_err(self) -> float:
        """Distance of the KLL median's exact rank from 0.5, checked
        against the sketch's published rank error."""
        est = kll.KllSketch.from_bytes(self.suite_states["kll"]).quantile(0.5)
        tok = F.col(self.key)
        row = self.src.agg(
            F.sum((tok < F.lit(est)).cast("long")).alias("lt"),
            F.sum((tok <= F.lit(est)).cast("long")).alias("le"),
        ).first()
        # a repeated value covers the whole rank interval [lt, le] / n
        lo, hi = row["lt"] / self.n_rows, row["le"] / self.n_rows
        err = max(0.0, lo - 0.5, 0.5 - hi)
        eps = kll.KllConfig().rank_eps()
        self.run.check("KLL median rank within its error bound", err <= eps, f"{err}")
        return err

    def layers(self) -> dict:
        out = self.build_twins()
        out["functions.probe_floor_s"] = self.probe_floor(self.held)
        tok = F.col(self.key).cast("long")
        yardsticks = {
            "yardstick.spark_hll_s": F.hll_sketch_estimate(F.hll_sketch_agg(tok)),
            "yardstick.spark_kll_s": F.kll_sketch_get_quantile_bigint(
                F.kll_sketch_agg_bigint(tok), F.lit(0.5)
            ),
            "yardstick.spark_theta_s": F.theta_sketch_estimate(F.theta_sketch_agg(tok)),
        }
        for name, expr in yardsticks.items():
            out[name] = _median_time(lambda e=expr: self.src.agg(e).first())
        out["sketches.base.distinct_rel_err"] = self.distinct_rel_err
        out["sketches.kll.median_rank_err"] = self.kll_rank_err
        return out


class UniqueKeys(FilterWorkload):
    """Distinct uniform 64-bit keys: every shipped row is a new key."""

    n_keys = 2_000_000
    n_capacity = n_keys
    n_yes = 1_000_000
    n_negatives = 1_000_000
    n_local_yes = 50_000

    def _keys(self, lo: int, hi: int, low_bit: int):
        # members have the low bit clear and negatives have it set, so
        # the two sets are disjoint by construction
        h = F.xxhash64(F.col("id"), F.lit(self.seed))
        k = h.bitwiseAND(F.lit(-2)) if low_bit == 0 else h.bitwiseOR(F.lit(1))
        return self.spark.range(lo, hi).select(k.alias("key")).cache()

    def setup(self) -> None:
        self.src = self._keys(0, self.n_keys, 0)
        self.n_rows = self.src.count()
        self.yes = self._keys(0, self.n_yes, 0)
        self.yes.count()
        self.neg = self._keys(self.n_keys, self.n_keys + self.n_negatives, 1)
        self.neg.count()

    def teardown_inputs(self) -> None:
        for df in (self.src, self.yes, self.neg):
            df.unpersist(blocking=True)

    def prepare(self) -> None:
        self.n_distinct = self.src.distinct().count()
        self.yes_local_keys = [int(r[0]) for r in self.yes.limit(self.n_local_yes).collect()]
        self.needle_members = self.yes_local_keys[:2000]
        self.needle_others = [int(r[0]) for r in self.neg.limit(2000).collect()]

    def probe(self) -> None:
        c = self.contains
        fp, t_neg = self.run.timed(
            "probe_neg_s", lambda: self.neg.filter(c(self.key, df=self.neg)).count()
        )
        hits, t_yes = self.run.timed(
            "probe_yes_s", lambda: self.yes.filter(c(self.key, df=self.yes)).count()
        )
        self.run.add("functions.probe_udf_s", t_neg + t_yes)
        self.run.add("probe_rows_per_s", (self.n_yes + self.n_negatives) / (t_neg + t_yes))
        self.run.add("fpr", fp / self.n_negatives)
        self.run.check("every yes-probe hits (UDF)", hits == self.n_yes, f"{hits}")

    def cycle(self, traced: bool) -> None:
        self.do_build()
        self.needles()
        self.probe()
        self.needles()
        self.n_cycles += 1

    def finish(self) -> dict:
        self.check_yes_local()
        fprs = self.run.samples["fpr"] + self.run.samples["fpr" + TRACED]
        self.run.check("UDF false positives repeat across builds", len(set(fprs)) == 1)
        out = self.filter_metrics()
        out["fpr"] = median(fprs)
        return out

    def layers(self) -> dict:
        out = self.build_twins()
        out["functions.probe_floor_s"] = self.probe_floor(self.neg) + self.probe_floor(
            self.yes
        )
        return out


class TableLookup:
    """Appends to a snapshot table that keeps a per-file membership
    index, then needle lookups through the index, then one compaction."""

    batch_docs = 20_000
    files_per_batch = 3
    n_appends = 5
    n_bulk_keys = 20_000
    lookups_per_cycle = 8
    # the tail is the highest percentile with ten lookups beyond it: 40
    # lookups put it at p75
    min_lookups = 40
    check_every = 20  # one untimed full-scan comparison per this many lookups
    overhead_sample = "lookup_s"

    def __init__(self, run: Run, seed: int, work_dir: str):
        self.run = run
        self.spark = run.spark
        self.seed = seed
        self.work_dir = work_dir
        self.cfg = file_index.FileIndexConfig(
            expected_keys_per_file=self.batch_docs // self.files_per_batch, seed=PF_SEED
        )
        self.n_setups = 0
        self.n_lookups = 0
        self.appended = 0

    def _batch(self, b: int):
        """Documents ``b * batch_docs`` .. ``(b + 1) * batch_docs - 1``, one
        file per range partition."""
        lo, hi = b * self.batch_docs, (b + 1) * self.batch_docs
        sources = F.array(*[F.lit(s) for s in ("web", "books", "code", "wiki")])
        h = F.xxhash64(F.col("id"), F.lit(self.seed))
        return self.spark.range(lo, hi, numPartitions=self.files_per_batch).select(
            F.format_string("doc-%012d", "id").alias("doc_id"),
            (F.pmod(h, F.lit(256)) + 1).cast("int").alias("n_tok"),
            F.element_at(sources, (F.pmod(F.shiftright(h, 8), F.lit(4)) + 1).cast("int"))
            .alias("source"),
        )

    def setup(self) -> None:
        """Write the base table and build its index."""
        self.n_setups += 1
        table_dir = os.path.join(self.work_dir, f"table-{self.n_setups}")
        self.table = os.path.join(table_dir, "table")
        self.index = os.path.join(table_dir, "index")
        iceberg.write_table(self._batch(0), self.table)
        iceberg.update_table_index(self.spark, self.table, self.index, "doc_id", self.cfg)
        self.next_batch = 1

    def teardown_inputs(self) -> None:
        shutil.rmtree(os.path.dirname(self.table), ignore_errors=True)

    def prepare(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        # doc ids past every batch: never in the table
        self.absent = [f"doc-{i:012d}" for i in range(10**9, 10**9 + self.n_bulk_keys)]

    def warm_up(self) -> None:
        """A bulk probe and a few lookups, untimed; the set-ups have
        already run the write and the index update."""
        self._reopen_index()
        self.bulk_probe()
        for i in range(3):
            self.lookup(False, [f"doc-{i:012d}", self.absent[i]])

    def _reopen_index(self) -> None:
        self.index_df = self.spark.read.parquet(self.index)
        self.n_table_docs = self.batch_docs * self.next_batch

    def append(self) -> None:
        tr = self.run.tracer
        batch = self._batch(self.next_batch)
        self.next_batch += 1
        with tr.span("append"):
            with tr.span("sources.iceberg.write_table"):
                iceberg.write_table(batch, self.table)
            with tr.span("sources.iceberg.update_table_index"):
                iceberg.update_table_index(
                    self.spark, self.table, self.index, "doc_id", self.cfg
                )

    def lookup(self, traced: bool, keys: list[str]) -> int:
        """One needle ``pruned_read(...).count()``. In a traced round the
        two functions ``pruned_read`` calls get spans of their own, so the
        read is the self time of the ``pruned_read`` span."""
        tr = self.run.tracer
        spans = self._file_index_spans() if traced else contextlib.nullcontext()
        with spans, tr.span("lookup"), tr.span("sources.file_index.pruned_read"):
            return file_index.pruned_read(
                self.spark, self.index_df, "doc_id", keys, self.cfg
            ).count()

    @contextlib.contextmanager
    def _file_index_spans(self):
        """Wrap ``file_index.hash_probe_keys`` and ``file_index.prune_files``
        in spans while the block runs. ``pruned_read`` looks both up in its
        module when it is called, so it calls the wrappers."""
        tr = self.run.tracer
        hash_probe_keys, prune_files = file_index.hash_probe_keys, file_index.prune_files

        def traced_hash_probe_keys(*args, **kwargs):
            with tr.span("sources.file_index.hash_probe_keys"):
                return hash_probe_keys(*args, **kwargs)

        def traced_prune_files(*args, **kwargs):
            with tr.span("sources.file_index.prune_files"):
                files = prune_files(*args, **kwargs)
            self.run.add("sources.file_index.files_read_per_lookup", len(files))
            return files

        file_index.hash_probe_keys = traced_hash_probe_keys
        file_index.prune_files = traced_prune_files
        try:
            yield
        finally:
            file_index.hash_probe_keys, file_index.prune_files = hash_probe_keys, prune_files

    def bulk_probe(self) -> None:
        """Which files may hold any of ``n_bulk_keys`` absent keys."""

        def probe():
            h = file_index.hash_probe_keys(self.spark, self.absent, self.cfg.seed)
            return file_index.probe_file_index(self.index_df, h, self.cfg).collect()

        _, dt = self.run.timed("bulk_probe_s", probe)
        self.run.add("probe_rows_per_s", self.n_bulk_keys / dt)

    def index_fpr(self) -> float:
        """False hits / (absent keys x indexed files) of the whole index."""
        h = file_index.hash_probe_keys(self.spark, self.absent, self.cfg.seed)
        rows = file_index.probe_file_index(self.index_df, h, self.cfg).collect()
        return sum(r["n_maybe"] for r in rows) / (self.n_bulk_keys * len(rows))

    def full_scan_check(self, keys: list[str]) -> None:
        got = file_index.pruned_read(self.spark, self.index_df, "doc_id", keys, self.cfg)
        want = iceberg.read_table(self.spark, self.table).filter(F.col("doc_id").isin(keys))
        self.run.check(
            "pruned_read equals the full-scan filter",
            sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())),
        )

    def cycle(self, traced: bool) -> None:
        # the appends and their bulk probes come one per round, between
        # the lookups of the first rounds, so that the samples of each
        # cover a stretch of the run rather than one moment
        if self.appended < self.n_appends:
            self.run.timed("build_s", self.append)
            self.appended += 1
            self._reopen_index()
            self.bulk_probe()
        for _ in range(self.lookups_per_cycle):
            i = int(self.rng.integers(self.n_table_docs))
            keys = [f"doc-{i:012d}", self.absent[self.n_lookups % len(self.absent)]]
            group = self.run.job_group("lookup")
            n, _ = self.run.timed("lookup_s", lambda: self.lookup(traced, keys))
            self.run.add("spark.jobs_per_lookup", len(self.run.jobs(group)))
            self.run.check("needle lookup finds its one present key", n == 1, f"{n}")
            self.n_lookups += 1
            if self.n_lookups % self.check_every == 0:
                self.full_scan_check(keys)

    def min_cycles_done(self) -> bool:
        return self.appended >= self.n_appends and self.n_lookups >= self.min_lookups

    def finish(self) -> dict:
        fpr = self.index_fpr()
        states = self.index_df.select("state", "n_keys").collect()
        bits_per_key = sum(len(r["state"]) for r in states) * 8 / sum(
            r["n_keys"] for r in states
        )
        self.run.timed(
            "sources.iceberg.compact_s",
            lambda: iceberg.compact_table(self.spark, self.table, num_files=2),
        )
        self.run.timed(
            "sources.iceberg.reindex_s",
            lambda: iceberg.update_table_index(
                self.spark, self.table, self.index, "doc_id", self.cfg
            ),
        )
        self._reopen_index()
        first, last = "doc-000000000000", f"doc-{self.n_table_docs - 1:012d}"
        self.full_scan_check([first, last, self.absent[0]])
        return {
            "build_s": median(self.run.samples["build_s"]),
            "bits_per_key": bits_per_key,
            "fpr": fpr,
            "probe_rows_per_s": median(self.run.samples["probe_rows_per_s"]),
        }

    def layers(self) -> dict:
        return {}


WORKLOADS = {
    "zipf_tokens": ZipfTokens,
    "unique_keys": UniqueKeys,
    "table_lookup": TableLookup,
}
