"""Layered benchmark of the near-duplicate engine's ``cli dedup``.

    python3 layerbench/run.py --workload parity_m64 --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs come from the package's
deterministic crawl generator and are written to parquet before any timer
starts. ``--trace 0`` times in-process ``cli.main(["dedup", ...])`` calls,
one at a time (closed loop, one caller), and prints the end-to-end
metrics; ``--trace 1`` calls each layer's public functions inside spans,
reads their task metrics from Spark's status REST API and prints the
per-layer metrics. Every run's output is checked (checks.py). The last
stdout line is one JSON object: correct, attempted, failed, metrics.

Other modes: ``--smoke`` runs all workloads at a tiny size and asserts that
every metric is emitted with its unit and that the outputs match the
package's O(N^2) oracle; ``--record SEED ...`` records the output hashes
of the given seeds into expected.json after the same oracle cross-check.
Scratch files go to ``.layerbench/`` at the checkout root.
"""

from __future__ import annotations

import time

PROC_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".layerbench")
sys.path.insert(0, HERE)

import host  # noqa: E402
from layers import STAGES  # noqa: E402
from workloads import WORKLOADS, write_pages  # noqa: E402

# timed dedups per run, however long they take: the first after warm-up
# is often ~10% slower, and the median of three drops it
MIN_SAMPLES = 3
SMOKE_PAGES = 240
WARMUP_PAGES = 240  # set-up's dedups; their cost is mostly fixed
WARMUP_DEDUPS = 2

END_TO_END = {
    "dedup_wall_s": "s",
    "docs_per_s": "docs/s",
    "setup_s": "s",
}
PER_LAYER = {
    "sketchlib.shingle_docs_per_s": "docs/s",
    "sketchlib.hll_docs_per_s": "docs/s",
    "sketchlib.smh_docs_per_s": "docs/s",
    "sketchlib.verify_pairs_per_s": "pairs/s",
    "sketchlib.aux_pairs_per_s": "pairs/s",
    "sketch.wall_s": "s",
    "sketch.task_s": "s",
    "sketch.cpu_s": "s",
    "sketch.gc_s": "s",
    "sketch.udf_overhead_s": "s",
    "sketch.max_task_s": "s",
    "sketch.rows_out": "count",
    "candidates.wall_s": "s",
    "candidates.task_s": "s",
    "candidates.band_rows": "count",
    "candidates.prejoin_estimate": "count",
    "candidates.pairs_out": "count",
    "candidates.shuffle_bytes": "bytes",
    "candidates.max_task_s": "s",
    "candidates.max_bucket": "count",
    "candidates.prejoin_qerror": "ratio",
    "verify.wall_s": "s",
    "verify.task_s": "s",
    "verify.udf_overhead_s": "s",
    "verify.pairs_in": "count",
    "verify.pairs_out": "count",
    "verify.yield": "ratio",
    "verify.shuffle_bytes": "bytes",
    "cluster.wall_s": "s",
    "cluster.edges_in": "count",
    "cluster.nodes_out": "count",
    "warehouse.write_s": "s",
    "warehouse.bytes_written": "bytes",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.core_busy_ratio": "ratio",
    "pipeline.peak_rss_mb": "MB",
    "pipeline.traced_wall_s": "s",
    "pipeline.untraced_wall_s": "s",
    "pipeline.trace_overhead_s": "s",
    **{f"{s}.{k}": "s" for s in STAGES for k in ("fixed_s", "per_kdoc_s")},
}


class SetupError(RuntimeError):
    """The benchmark cannot run here; exit non-zero without a result."""


def prepare_env() -> int:
    if not os.path.isfile(os.path.join(ROOT, "cuda_selection_criteria_spark", "cli.py")):
        raise SetupError(f"no cuda_selection_criteria_spark package under {ROOT}")
    cpus = host.nproc()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package from this checkout: the JVM hands
    # its PYTHONPATH to every worker it forks
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    sys.path.insert(0, ROOT)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_LOCAL_IP": "127.0.0.1",
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": "2g",
        }
    )
    return cpus


def start_spark(master: str):
    from cuda_selection_criteria_spark.session import get_spark

    tmp = os.path.join(OUT, "tmp")
    spark = get_spark(
        app_name="layerbench",
        master=master,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def worker_package_paths(spark) -> list[str]:
    n = spark.sparkContext.defaultParallelism
    # a lambda ships by value, so workers need not import this script
    where = lambda _: __import__("cuda_selection_criteria_spark").__file__  # noqa: E731
    paths = sorted(set(spark.sparkContext.parallelize(range(n), n).map(where).collect()))
    if any(not p.startswith(ROOT + os.sep) for p in paths):
        raise SetupError(f"workers import the package from {paths}, not from {ROOT}")
    return paths


def cli_dedup(master: str, pages: str, warehouse: str, workload) -> float:
    """One in-process ``cli dedup``; returns its wall time."""
    from cuda_selection_criteria_spark import cli

    shutil.rmtree(warehouse, ignore_errors=True)
    argv = ["--master", master, "dedup", "--input", pages, "--warehouse", warehouse, *workload.cli_args]
    with contextlib.redirect_stdout(io.StringIO()):
        t0 = time.perf_counter()
        cli.main(argv)
        return time.perf_counter() - t0


class Bench:
    def __init__(self, workload, seed: int, n_pages: int, oracle: bool):
        self.w = workload
        self.seed = seed
        self.n_pages = n_pages
        self.oracle = oracle
        self.gen_s = 0.0
        self.cpus = prepare_env()
        # one core stays free for this process and the JVM's own threads
        # (Arrow writers, GC, JIT): on a 4-core VM local[3] ran cli dedup
        # ~8% faster and steadier than local[4], local[2] slower
        self.cores = max(1, self.cpus - 1)
        self.master = f"local[{self.cores}]"
        self.dir = os.path.join(OUT, f"{workload.name}-s{seed}-n{n_pages}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self._wh = 0
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.record: dict = {"workload": workload.name, "seed": seed, "n_pages": n_pages}

    @property
    def trace_sizes(self) -> tuple[int, int]:
        """The two input sizes of the traced run (fixed vs per-row fit)."""
        return (self.n_pages // 2, self.n_pages)

    def warehouse(self) -> str:
        self._wh += 1
        return os.path.join(self.dir, f"wh{self._wh}")

    def pages(self, n: int, seed: int) -> tuple[str, dict[str, str]]:
        t0 = time.perf_counter()
        path = os.path.join(self.dir, f"pages-{n}-{seed}.parquet")
        rows = write_pages(n, seed, path)
        self.gen_s += time.perf_counter() - t0
        return path, {r.url: r.text for r in rows}

    def dedup(self, pages: str) -> tuple[float, str]:
        wh = self.warehouse()
        # every dedup starts from the same state: the previous one's plans
        # are released and its checkpoint blocks and shuffles cleaned
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        return cli_dedup(self.master, pages, wh, self.w), wh

    # -------------------------------------------------------------- set-up

    def set_up(self) -> float:
        """Process start to the end of warm-up: SparkSession in a fresh JVM,
        Python worker spawn and imports, and WARMUP_DEDUPS checked ``cli
        dedup`` runs of WARMUP_PAGES pages. Input generation is excluded."""
        n = min(WARMUP_PAGES, self.n_pages)
        pages, texts = self.pages(n, self.seed)
        check = self.new_check(n, texts)
        t0 = time.perf_counter()
        self.spark = start_spark(self.master)
        t1 = time.perf_counter()
        paths = worker_package_paths(self.spark)
        self.record["start_s"] = {
            "python": t0 - PROC_T0 - self.gen_s,
            "spark_session": t1 - t0,
            "worker_spawn": time.perf_counter() - t1,
        }
        # the warm-up cost is mostly fixed (JIT, codegen, worker imports),
        # so a small input bears it as well as the full one
        self.record["warmup_wall_s"] = [
            self.checked(check, lambda: self.dedup(pages)) for _ in range(WARMUP_DEDUPS)
        ]
        self.errors += check.errors
        setup_s = time.perf_counter() - PROC_T0 - self.gen_s
        conf = self.spark.conf
        self.record["setup_s"] = setup_s
        self.record["context"] = {
            "git_rev": host.git_rev(ROOT),
            "source_digest": host.source_digest(ROOT),
            "nproc": self.cpus,
            "spark_master": self.spark.sparkContext.master,
            "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
            "arrow_batch": int(conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
            "worker_package": paths,
            "python": sys.version.split()[0],
        }
        return setup_s

    def probe(self, key: str) -> None:
        self.record.setdefault("host_probe_docs_per_s", {})[key] = host.host_probe()

    def checked(self, check, fn) -> float | None:
        """Run ``fn`` (which writes a warehouse and returns (wall, path)),
        then the output check; None if either fails."""
        self.attempted += 1
        try:
            wall, wh = fn()
            ok = check.check(wh)
        except Exception:  # a failed run is counted, not fatal
            self.errors.append(traceback.format_exc(limit=-3))
            ok = False
        else:
            shutil.rmtree(wh, ignore_errors=True)
        if not ok:
            self.failed += 1
            return None
        return wall

    def new_check(self, n: int, texts: dict[str, str]):
        from checks import OutputCheck

        check = OutputCheck(self.w, self.seed, texts, n)
        self.record.setdefault("check_mode", {})[str(n)] = check.mode
        return check

    def oracle_check(self, check, texts: dict[str, str]) -> None:
        from checks import oracle_errors

        errs = oracle_errors(check.first_rows, texts, self.w.config(), subset=self.w.bucket_pairing == "star")
        if errs:
            self.failed += 1
            self.errors += errs

    # ---------------------------------------------------------- timed mode

    def timed(self, seconds: float) -> dict:
        pages, texts = self.pages(self.n_pages, self.seed)
        check = self.new_check(self.n_pages, texts)
        setup_s = self.set_up()
        self.probe("before")
        walls = []
        t_start = time.perf_counter()
        while True:
            wall = self.checked(check, lambda: self.dedup(pages))
            if wall is not None:
                walls.append(wall)
            elapsed = time.perf_counter() - t_start
            n = len(walls) + self.failed
            if n >= MIN_SAMPLES and (not walls or elapsed + statistics.median(walls) > seconds):
                break
        self.probe("after")
        if self.oracle and check.first is not None:
            self.oracle_check(check, texts)
        self.errors += check.errors
        self.record["dedup_wall_s_samples"] = walls
        self.record["sample_count"] = {"dedup_wall_s": len(walls), "docs_per_s": len(walls), "setup_s": 1}
        if not walls:
            return {}
        wall = statistics.median(walls)
        return {
            "dedup_wall_s": wall,
            "docs_per_s": self.n_pages / wall,
            "setup_s": setup_s,
        }

    # ---------------------------------------------------------- trace mode

    def traced(self, seconds: float) -> dict:
        import layers
        from spans import StatusApi, Tracer

        cfg = self.w.config()
        small, large = self.trace_sizes
        inputs = {n: self.pages(n, self.seed) for n in (small, large)}
        checks = {n: self.new_check(n, inputs[n][1]) for n in (small, large)}
        self.set_up()
        self.probe("before")
        kernels = layers.kernel_layer(list(inputs[large][1].values()), cfg, self.seed)
        api = StatusApi(self.spark)
        untraced: list[float] = []
        peaks: list[int] = []
        rss = host.RssSampler()
        runs: dict[int, list[dict]] = {small: [], large: []}
        spans_path = os.path.join(self.dir, "spans.jsonl")
        t_start = time.perf_counter()
        rep = 0
        with open(spans_path, "w") as spans_out, rss:
            while True:
                t_rep = time.perf_counter()
                rss.take_peak()
                wall = self.checked(checks[large], lambda: self.dedup(inputs[large][0]))
                if wall is not None:
                    untraced.append(wall)
                    peaks.append(rss.take_peak())
                for n in (small, large):
                    tracer = Tracer(self.spark, f"{self.w.name}-s{self.seed}-n{n}-r{rep}")
                    out: dict = {}

                    def one(n=n, tracer=tracer, out=out):
                        wh = self.warehouse()
                        out.update(layers.traced_dedup(self.spark, tracer, self.w, inputs[n][0], wh))
                        return tracer.by_name("dedup").wall_s, wh

                    if self.checked(checks[n], one) is None:
                        continue
                    stats = api.group_metrics([s.group for s in tracer.spans])
                    for sp in tracer.spans:
                        sp.attrs.update(stats[sp.group])
                    tracer.dump(spans_out)
                    runs[n].append({"spans": {s.name: s for s in tracer.spans}, "stats": stats, "counts": out})
                rep += 1
                # another repetition only if it is expected to end in time
                now = time.perf_counter()
                if now - t_start + (now - t_rep) > seconds:
                    break
        self.probe("after")
        for c in checks.values():
            self.errors += c.errors
        self.record["spans_file"] = os.path.relpath(spans_path, ROOT)
        if not runs[large] or not runs[small] or not untraced:
            return {}
        m = self.layer_metrics(kernels, runs, untraced)
        m["pipeline.peak_rss_mb"] = statistics.median(peaks) / 2**20
        return m

    def layer_metrics(self, kernels, runs, untraced) -> dict:
        import layers

        small, large = self.trace_sizes

        def med(n, fn):
            return statistics.median(fn(r) for r in runs[n])

        def wall(stage):
            return lambda r: r["spans"][stage].wall_s

        def stat(stage, key):
            return lambda r: r["stats"][r["spans"][stage].group][key]

        def count(key):
            return lambda r: r["counts"][key]

        m = dict(kernels)
        per_doc_kernel_s = sum(
            1.0 / kernels[f"sketchlib.{k}_docs_per_s"] for k in ("shingle", "hll", "smh")
        )
        for stage in ("sketch", "candidates", "verify"):
            m[f"{stage}.wall_s"] = med(large, wall(stage))
            m[f"{stage}.task_s"] = med(large, stat(stage, "task_s"))
            m[f"{stage}.max_task_s"] = med(large, stat(stage, "max_task_s"))
        m["sketch.cpu_s"] = med(large, stat("sketch", "cpu_s"))
        m["sketch.gc_s"] = med(large, stat("sketch", "gc_s"))
        m["sketch.rows_out"] = med(large, count("sketch.rows_out"))
        m["sketch.udf_overhead_s"] = m["sketch.task_s"] - m["sketch.rows_out"] * per_doc_kernel_s
        for key in ("band_rows", "prejoin_estimate", "pairs_out", "max_bucket"):
            m[f"candidates.{key}"] = med(large, count(f"candidates.{key}"))
        m["candidates.shuffle_bytes"] = med(large, stat("candidates", "shuffle_bytes"))
        m["candidates.prejoin_qerror"] = layers.qerror(
            m["candidates.prejoin_estimate"], m["candidates.pairs_out"]
        )
        m["verify.pairs_in"] = m["candidates.pairs_out"]
        m["verify.pairs_out"] = med(large, count("verify.pairs_out"))
        m["verify.yield"] = m["verify.pairs_out"] / max(m["verify.pairs_in"], 1)
        m["verify.shuffle_bytes"] = med(large, stat("verify", "shuffle_bytes"))
        m["verify.udf_overhead_s"] = (
            m["verify.task_s"] - m["verify.pairs_in"] / kernels["sketchlib.verify_pairs_per_s"]
        )
        m["cluster.wall_s"] = med(large, wall("cluster"))
        m["cluster.edges_in"] = m["verify.pairs_out"]
        m["cluster.nodes_out"] = med(large, count("cluster.nodes_out"))
        m["warehouse.write_s"] = med(large, wall("warehouse"))
        m["warehouse.bytes_written"] = med(large, count("warehouse.bytes_written"))

        def total(key):
            return lambda r: sum(v[key] for v in r["stats"].values())

        m["pipeline.jobs"] = med(large, total("jobs"))
        m["pipeline.stages"] = med(large, total("stages"))
        m["pipeline.tasks"] = med(large, total("tasks"))
        m["pipeline.traced_wall_s"] = med(large, wall("dedup"))
        m["pipeline.core_busy_ratio"] = med(
            large, lambda r: total("task_s")(r) / (r["spans"]["dedup"].wall_s * self.cores)
        )
        m["pipeline.untraced_wall_s"] = statistics.median(untraced)
        m["pipeline.trace_overhead_s"] = m["pipeline.traced_wall_s"] - m["pipeline.untraced_wall_s"]
        for stage in layers.STAGES:
            fixed, per_kdoc = layers.fit_fixed_per_kdoc(
                {n: [r["spans"][stage].wall_s for r in runs[n]] for n in (small, large)}
            )
            m[f"{stage}.fixed_s"] = fixed
            m[f"{stage}.per_kdoc_s"] = per_kdoc
        shares = {s: m[f"{s}.wall_s"] for s in ("sketch", "candidates", "verify", "cluster")}
        self.record["largest_stage"] = max(shares, key=shares.get)
        self.record["stage_walls_s"] = shares
        self.record["trace_reps"] = {str(n): len(runs[n]) for n in runs}
        return m

    def finish(self, metrics: dict, units: dict) -> dict:
        from host import slow_phase

        if self.spark is not None:
            t0 = time.perf_counter()
            host.stop_spark(self.spark)
            self.record["stop_s"] = time.perf_counter() - t0
            self.spark = None
        self.record["gen_s"] = self.gen_s
        probes = list(self.record.get("host_probe_docs_per_s", {}).values())
        self.record["slow_host_phase"] = bool(probes) and slow_phase(probes)
        self.record["errors"] = self.errors[:20]
        missing = [k for k in units if k not in metrics]
        correct = not self.errors and not missing and self.failed == 0
        self.record["missing_metrics"] = missing
        result = {
            "correct": correct,
            "attempted": max(self.attempted, 1),
            "failed": self.failed if self.attempted else 1,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
        }
        self.record["result"] = result
        with open(os.path.join(self.dir, "record.json"), "w") as f:
            json.dump(self.record, f, indent=1, default=str)
        return result


def run_one(args) -> int:
    w = WORKLOADS[args.workload]
    bench = Bench(w, args.seed, args.pages or w.n_pages, args.oracle)
    units = PER_LAYER if args.trace else END_TO_END
    metrics: dict = {}
    try:
        metrics = bench.traced(args.seconds) if args.trace else bench.timed(args.seconds)
    finally:
        # a set-up failure propagates after Spark is stopped
        result = bench.finish(metrics, units)
    print("# record " + json.dumps({k: v for k, v in bench.record.items() if k != "result"}, default=str))
    print(json.dumps(result))
    return 0


def smoke(args) -> int:
    """Every workload at SMOKE_PAGES, both modes, oracle-checked."""
    failures = []
    for name in WORKLOADS:
        for trace, units in ((0, END_TO_END), (1, PER_LAYER)):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", name,
                "--seed", str(args.seed), "--seconds", "1", "--trace", str(trace),
                "--pages", str(SMOKE_PAGES), "--oracle",
            ]
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=ROOT)
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if out.returncode == 0 and lines else None
            ok = (
                res is not None
                and res["correct"]
                and res["failed"] == 0
                and {k: v["unit"] for k, v in res["metrics"].items()} == units
            )
            print(f"# smoke {name} trace={trace}: {'ok' if ok else 'FAILED'}", file=sys.stderr)
            if not ok:
                failures.append((name, trace, out.stdout[-2000:], out.stderr[-2000:]))
    for f in failures:
        print(*f, sep="\n", file=sys.stderr)
    return 1 if failures else 0


def record(args) -> int:
    """Record output hashes for ``args.record`` seeds of every workload,
    after cross-checking each workload against the oracle at a small N."""
    from checks import EXPECTED_PATH, OutputCheck, load_expected

    expected = load_expected()
    for name, w in WORKLOADS.items():
        bench = Bench(w, args.record[0], SMOKE_PAGES, oracle=True)
        seeds = {}
        try:
            pages, texts = bench.pages(SMOKE_PAGES, args.record[0])
            check = bench.new_check(SMOKE_PAGES, texts)
            bench.set_up()
            bench.checked(check, lambda: bench.dedup(pages))
            bench.oracle_check(check, texts)
            if bench.failed or check.errors:
                raise SystemExit(f"{name}: oracle cross-check failed: {bench.errors + check.errors}")
            if w.bucket_pairing == "star":
                # star pairs each bucket member with the bucket's minimum
                # url_id, and url_ids follow the input's partition layout,
                # so the output varies with the core count: no hashes
                continue
            for seed in args.record:
                pages, texts = bench.pages(w.n_pages, seed)
                # an existing record for this seed must be reproduced
                check = OutputCheck(w, seed, texts, w.n_pages)
                if bench.checked(check, lambda: bench.dedup(pages)) is None:
                    raise SystemExit(f"{name} seed {seed}: {check.errors + bench.errors}")
                seeds[str(seed)] = {k: check.first[k] for k in ("pairs", "clusters", "n_pairs")}
                print(f"# recorded {name} seed {seed}: {seeds[str(seed)]}", file=sys.stderr)
        finally:
            if bench.spark is not None:
                host.stop_spark(bench.spark)
        if expected.get(name, {}).get("n_pages") != w.n_pages:
            expected[name] = {"n_pages": w.n_pages, "seeds": {}}
        expected[name]["seeds"].update(seeds)
        with open(EXPECTED_PATH, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pages", type=int, default=None, help="override the workload's page count")
    p.add_argument("--oracle", action="store_true", help="also compare with the O(N^2) oracle")
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--record", type=int, nargs="+", metavar="SEED")
    args = p.parse_args(argv)
    try:
        if args.smoke:
            return smoke(args)
        if args.record:
            return record(args)
        if not args.workload:
            p.error("--workload is required")
        return run_one(args)
    except SetupError as e:
        print(f"layerbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
