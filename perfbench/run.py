"""yams_spark benchmark: the ER pipeline and the operator-query suite at
local[<cores>], measured end to end (``--trace 0``) or layer by layer
(``--trace 1``).

Run from the repository root:

    python3 perfbench/run.py --workload er_clean --seed 1 --seconds 5 --trace 0

Every input is generated from ``--seed`` into ``.perfbench_run/`` under the
current directory during set-up, and the directory is removed on exit. The
last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; progress goes to stderr.
See ``perfbench/README.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

import corpus
import eventlog
import layers
import suite
from layers import set_job_group

ROOT = os.getcwd()

#: per workload: ER corpus shape, the CC gate and the queries its timed
#: runs execute over the seeded source tables
WORKLOADS = {
    # headline corpus shape: mostly distinct pages, small duplicate
    # families; CC closes on the driver union-find
    "er_clean": {"replicate": 2, "hot_fraction": 0.0, "driver_cc_max_edges": -1,
                 "queries": suite.SEARCH_QUERIES},
    # one byte-identical boilerplate family as large as half the base pages
    # (salting, pair, score and CC carry the load), CC forced onto the
    # distributed large-star/small-star path
    "er_dup_heavy": {"replicate": 1, "hot_fraction": 0.5, "driver_cc_max_edges": 0,
                     "queries": suite.SIMILARITY_QUERIES},
}
#: cluster checksum (Run.checksum) of each workload's corpus for seeds 1-10,
#: recorded at the commit that defined the benchmark; the published
#: clusters of a pinned seed must not change
PINNED_CHECKSUMS = {
    "er_clean": {
        1: 8331875777706280764, 2: -4628768603665048218, 3: 2618278529863741109,
        4: 1697926453756068506, 5: -1506925893490869962, 6: -7151069977659285036,
        7: -1070273703241782462, 8: -452733733865556751, 9: 4827255305180611389,
        10: 5182669164199393375,
    },
    "er_dup_heavy": {
        1: 4250440411093396590, 2: -60769053437420632, 3: -8945934807980676184,
        4: -2984830102206039113, 5: -8920440385824374814, 6: -3496189119807951424,
        7: 1963206513878602784, 8: -1325603003102684061, 9: -8213351900772070815,
        10: 2835485702880157046,
    },
}
SOURCE_ROWS = {"n_docs": 500, "n_vecs": 500, "n_orders": 1500}
SETUP_REPEATS = 3
MIN_F1 = 0.99
CC_MODES = {"driver": 0, "hybrid": 1, "distributed": 2}


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - T_START:.1f}s] {msg}",
          file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """An eighth of the host's RAM, between 1 and 2 GiB: the inputs are
    small, and a fixed heap (-Xms = -Xmx) keeps the JVM's share of
    peak RSS from depending on when G1 decides to grow the heap."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(2, total // 8 // 2**30))}g"


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM, the Python worker daemon and its forked workers), sampled
    every 50 ms. Each process counts its PSS, so pages the forked workers
    share with the daemon are counted once, not once per worker."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def tree_rss_kb() -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total

    def _run(self) -> None:
        while not self._stop.wait(0.05):
            self.peak_kb = max(self.peak_kb, self.tree_rss_kb())

    def __enter__(self):
        self.peak_kb = self.tree_rss_kb()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Run:
    """One benchmark invocation: set-up, timed region, checks."""

    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.pinned = PINNED_CHECKSUMS[args.workload].get(args.seed)
        self.run_dir = run_dir
        self.cores = cores()
        self.attempted = 0
        self.failed = 0
        self.spark = None

    # --- bookkeeping ---------------------------------------------------
    def attempt(self, what: str, fn, *a, **kw):
        """Run one operation; a raise counts as a failed operation."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception as e:  # noqa: BLE001 - every failure is counted
            self.failed += 1
            log(f"FAILED {what}: {type(e).__name__}: {str(e)[:500]}")
            return None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """Each check is an operation; a wrong output counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED {what} {detail}")

    # --- set-up --------------------------------------------------------
    def start_session(self):
        from yams_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.run_dir}/tmp -XX:-UsePerfData "
                f"-Xms{os.environ['YAMS_DRIVER_MEMORY']}",
            "spark.sql.warehouse.dir": f"{self.run_dir}/warehouse",
        }
        if self.args.trace:
            os.makedirs(f"{self.run_dir}/eventlog", exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"{self.run_dir}/eventlog",
                "spark.eventLog.compress": "false",
            })
        return get_spark(app_name=f"perfbench_{self.args.workload}",
                         master=f"local[{self.cores}]",
                         shuffle_partitions=2 * self.cores, extra_conf=conf)

    def setup_once(self, i: int) -> float:
        """Session start, input generation (whose mapInPandas job also
        starts the Python workers) and input scan. Returns its seconds."""
        from yams_spark.sources.pages import materialize_pages

        t0 = time.perf_counter()
        spark = self.start_session()
        set_job_group(spark.sparkContext, "setup")
        data = os.path.join(self.run_dir, f"data{i}")
        corpus.write_source_tables(data, self.args.seed, **SOURCE_ROWS)
        pages_dir = os.path.join(data, "pages")
        materialize_pages(spark, data, pages_dir,
                          replicate=self.spec["replicate"], seed=self.args.seed)
        if self.spec["hot_fraction"]:
            corpus.append_hot_family(pages_dir, self.spec["hot_fraction"])
        self.pages = spark.read.parquet(os.path.join(pages_dir, "pages.parquet"))
        self.truth = spark.read.parquet(os.path.join(pages_dir, "truth.parquet"))
        self.n_pages = self.pages.count()
        self.sf_dir = data
        set_job_group(spark.sparkContext, None)
        self.spark = spark
        return time.perf_counter() - t0

    def setup(self, repeats: int) -> list[float]:
        """Set up ``repeats`` times in this process. Only the first starts
        the JVM; the later ones get the live session back from get_spark,
        so their median leaves JVM start-up out."""
        times = []
        for i in range(repeats):
            times.append(self.setup_once(i))
            log(f"setup {i}: {times[-1]:.2f}s, {self.n_pages} pages")
        return times

    # --- operations ----------------------------------------------------
    def pipeline_config(self, ckpt: str | None = None):
        from yams_spark.plans.er_pipeline import PipelineConfig

        return PipelineConfig(checkpoint_dir=ckpt,
                              driver_cc_max_edges=self.spec["driver_cc_max_edges"])

    def er_run(self, i: int, pages=None):
        """One run_pipeline into a fresh checkpoint dir: (seconds, out)."""
        from yams_spark.plans.er_pipeline import run_pipeline

        ckpt = os.path.join(self.run_dir, f"ckpt{i}")
        t0 = time.perf_counter()
        out = run_pipeline(self.spark, self.pages if pages is None else pages,
                           self.pipeline_config(ckpt))
        return time.perf_counter() - t0, out

    def query_pass(self, entry, names: list[str], tag: bool = False):
        """One pass over ``names``: name -> (seconds, fingerprint, fields)."""
        sc = self.spark.sparkContext
        res = {}
        for name in names:
            if tag:
                set_job_group(sc, f"query.{name}")
            r = self.attempt(name, suite.run_query, self.spark, entry, name, self.sf_dir)
            if r is not None:
                res[name] = r
        set_job_group(sc, None)
        return res

    # --- checks (outside the timed region) -----------------------------
    @staticmethod
    def checksum(clusters) -> int:
        from pyspark.sql import functions as F

        return clusters.agg(F.coalesce(F.expr(
            "bit_xor(xxhash64(group_key, canonical_url, member_count))"),
            F.lit(0)).alias("c")).collect()[0]["c"]

    def check_er(self, out, tag: str) -> int | None:
        """Byte-identical extraction and, off the driver CC path, labels
        equal to the driver union-find's. Returns the cluster checksum."""
        from pyspark.sql import functions as F

        from yams_spark.operators.clustering import connected_components

        sig = out["signatures"].select("url", "extracted_text")
        joined = sig.join(self.pages.select("url", "text"), "url")
        n_joined, n_diff = joined.agg(
            F.count("*"),
            F.sum((~F.col("extracted_text").eqNullSafe(F.col("text"))).cast("int")),
        ).collect()[0]
        self.check(f"{tag} extraction", n_joined == self.n_pages and not n_diff,
                   f"joined={n_joined} pages={self.n_pages} differing={n_diff}")
        # a pinned checksum was recorded from clusters that passed this
        # check, so for a pinned seed check_pinned covers it
        if (self.pinned is None
                and (out.get("cc_stats") or {}).get("mode", "driver") != "driver"):
            want = connected_components(out["scored_pairs"].where(F.col("accepted")),
                                        driver_max_edges=2**62)
            got = out["members"].select("url", "component")
            n_bad = got.exceptAll(want).count() + want.exceptAll(got).count()
            self.check(f"{tag} cc labels vs driver union-find", n_bad == 0,
                       f"{n_bad} differing rows")
        return self.checksum(out["clusters"])

    def check_pinned(self, checksum: int | None) -> None:
        if self.pinned is not None:
            self.check("cluster checksum vs pinned", checksum == self.pinned,
                       f"{checksum} != {self.pinned}")

    def f1(self, out) -> float:
        from yams_spark.operators.evaluation import labeled_pairs, pairwise_f1

        row = pairwise_f1(labeled_pairs(out["pairs"], self.truth),
                          out["members"].select("url", "group_key")).collect()[0]
        return float(row["f1"])

    def check_queries(self, entry, passes: list[dict]) -> None:
        fields = {}
        for p in passes:
            for name, (_s, _fp, fs) in p.items():
                fields.setdefault(name, fs)
        want = self.attempt("duckdb oracle", suite.oracle_fingerprints,
                            entry, self.sf_dir, fields)
        if want is None:
            return
        for p in passes:
            for name, (_s, fp, _fs) in p.items():
                self.check(f"query {name}", suite.fingerprints_match(fp, want[name]),
                           f"spark={fp} duckdb={want[name]}")

    # --- modes ---------------------------------------------------------
    def timed(self) -> dict:
        import __spark_entry__ as entry

        setup_times = self.setup(SETUP_REPEATS)
        er_walls, outs, passes = [], [], []
        with RssSampler() as rss:
            t0 = time.perf_counter()
            while not passes or time.perf_counter() - t0 < self.args.seconds:
                r = self.attempt("er run", self.er_run, len(outs))
                if r is not None:
                    er_walls.append(r[0])
                    outs.append(r[1])
                passes.append(self.query_pass(entry, self.spec["queries"]))
        log(f"timed region: {len(er_walls)} ER runs {[round(w, 2) for w in er_walls]}, "
            f"{len(passes)} query passes "
            f"{[round(sum(s for s, _f, _x in p.values()), 2) for p in passes]}")

        t_checks = time.perf_counter()
        checksums = [self.attempt("er checks", self.check_er, o, f"run{i}")
                     for i, o in enumerate(outs)]
        self.check("er checksum stable", len(set(checksums)) <= 1, str(checksums))
        if checksums:
            self.check_pinned(checksums[0])
        f1 = self.attempt("pairwise f1", self.f1, outs[0]) if outs else None
        self.check("pairwise f1", f1 is not None and f1 >= MIN_F1, str(f1))
        self.check_queries(entry, passes)
        if outs:
            log(f"checksum={checksums[0]} f1={f1} cc={outs[0].get('cc_stats')} "
                f"checks took {time.perf_counter() - t_checks:.1f}s")

        suites = [sum(s for s, _f, _x in p.values()) for p in passes
                  if len(p) == len(self.spec["queries"])]
        singles = sorted(s for p in passes for s, _f, _x in p.values())
        if not er_walls or not suites or f1 is None:
            raise RuntimeError("no complete ER run or query pass to report")
        er_wall = statistics.median(er_walls)
        return {
            "setup_s": (statistics.median(setup_times), "s"),
            "er_wall_s": (er_wall, "s"),
            "pages_per_s": (self.n_pages / er_wall, "1/s"),
            "pairwise_f1": (f1, "ratio"),
            "peak_rss_mb": (rss.peak_kb / 1024.0, "MB"),
            "success_rate": (1.0 - self.failed / max(self.attempted, 1), "ratio"),
            "query_suite_s": (statistics.median(suites), "s"),
            # no higher percentile: a pass has four samples, so none has
            # ten samples beyond it
            "query_p50_s": (statistics.median(singles), "s"),
        }

    def traced(self) -> dict:
        import __spark_entry__ as entry

        self.setup(1)
        clock = layers.LayerClock(self.spark)
        qpass = self.query_pass(entry, suite.QUERIES, tag=True)
        # an untimed run over a sample first, so that neither the traced nor
        # the untraced run below pays the pipeline's first-execution cost
        # (worker imports, code generation)
        self.attempt("warm-up er run", self.er_run, 0,
                     self.pages.sample(fraction=0.1, seed=self.args.seed))
        traced = self.attempt(
            "traced er run", layers.traced_pipeline, self.spark, self.pages,
            self.pipeline_config(),
            os.path.join(self.run_dir, "traced"), clock)
        t_lo = time.time() * 1000
        r = self.attempt("er run", self.er_run, 1)
        window = {"er_pipeline": (t_lo, time.time() * 1000)}
        if r is None or traced is None:
            raise RuntimeError("ER run failed; no layer metrics to report")
        wall, out = r
        want = self.attempt("er checks", self.check_er, out, "untraced")
        got = self.attempt("traced checksum", self.checksum, traced)
        self.check("traced checksum == untraced", got == want, f"{got} != {want}")
        self.check_pinned(want)
        self.check_queries(entry, [qpass])
        counts = self.lineage_counts(out)
        self.shutdown()

        groups = eventlog.fold(
            eventlog.read_events(os.path.join(self.run_dir, "eventlog")), window)
        none = eventlog.GroupSums()
        metrics: dict[str, tuple[float, str]] = {}
        for name in layers.ER_LAYERS:
            for k, v in groups.get(name, none).metrics(clock.wall[name], self.cores).items():
                metrics[f"{name}.{k}"] = v
        # glue = everything the untraced run did beyond the traced layer calls
        glue = groups.get("er_pipeline", none)
        layer_sums = [groups.get(n, none) for n in layers.ER_LAYERS]
        metrics["er_pipeline.wall_s"] = (wall - sum(clock.wall.values()), "s")
        metrics["er_pipeline.jobs"] = (
            float(glue.jobs - sum(g.jobs for g in layer_sums)), "count")
        metrics["er_pipeline.exec_run_s"] = (
            (glue.exec_run_ms - sum(g.exec_run_ms for g in layer_sums)) / 1000.0, "s")
        log(f"untraced er_wall_s={wall:.2f} traced layers={sum(clock.wall.values()):.2f} "
            f"tracing overhead={sum(clock.wall.values()) - wall:+.2f}s")
        metrics.update(counts)
        for name, (secs, _fp, _fs) in qpass.items():
            g = groups.get(f"query.{name}", none)
            metrics[f"query.{name}.wall_s"] = (secs, "s")
            metrics[f"query.{name}.exec_run_s"] = (g.exec_run_ms / 1000.0, "s")
            metrics[f"query.{name}.jobs"] = (float(g.jobs), "count")
        return metrics

    def lineage_counts(self, out) -> dict[str, tuple[float, str]]:
        """Counts from the untraced run's lineage table and cc_stats."""
        from pyspark.sql import functions as F

        met = out["metrics"]
        per_stage = {r["stage"]: r for r in met.groupBy("stage").agg(
            F.count("*").alias("rows"), F.sum("rows_out").alias("rows_out"),
            F.sum("pair_count").alias("pair_count")).collect()}
        pair_parts = [r["rows_out"] for r in met.where(F.col("stage") == "pair")
                      .select("rows_out").collect()]
        over = per_stage.get("block_oversize")
        cc = out.get("cc_stats") or {}
        candidates = per_stage["pair"]["rows_out"]
        accepted = out["scored_pairs"].where(F.col("accepted")).count()
        med = statistics.median(pair_parts) if pair_parts else 0
        return {
            "block.key_rows": (float(per_stage["block"]["rows_out"]), "count"),
            "block.oversize_keys": (float(over["rows"] if over else 0), "count"),
            "block.dropped_pairs_upper_bound": (
                float(over["pair_count"] if over else 0), "count"),
            "pair.candidates": (float(candidates), "count"),
            "pair.partition_max_over_median": (
                max(pair_parts) / med if med else 1.0, "ratio"),
            "score.accept_ratio": (accepted / candidates if candidates else 0.0, "ratio"),
            "cc.edges_initial": (float(cc.get("edges_initial", 0)), "count"),
            "cc.rounds": (float(cc.get("rounds", 0)), "count"),
            "cc.mode": (float(CC_MODES[cc.get("mode", "driver")]), "code"),
        }

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "yams_spark", "__init__.py")):
        log(f"no yams_spark package under {ROOT}; run from the repository root")
        return 2
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "YAMS_SPARK_LOCAL_DIR": os.path.join(run_dir, "local"),
        "YAMS_DRIVER_MEMORY": driver_memory(),
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
    })
    run = Run(args, run_dir)
    try:
        metrics = run.traced() if args.trace else run.timed()
    finally:
        run.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
