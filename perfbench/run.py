"""Engine benchmark: seeded closed-loop workloads over moonlink_spark.

    python3 perfbench/run.py --workload cdc_eager --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Each run starts a fresh Spark JVM
on ``local[<cores>]``, builds a bucketed image table from the seed, runs
the workload's foreground phase, then the maintenance epilogue, checks
every result against the ``CdcScheduleGenerator`` oracle, and prints the
metrics: readable lines first, then one JSON object as the last line.
``--trace 0`` reports the end-to-end metrics that BENCHMARK.json declares;
``--trace 1`` wraps the engine's public functions (perfbench/spans.py) and
reports the declared per-layer metrics instead, writing the spans to
``.bench_trace/``.

One client drives each workload as a closed loop: an operation starts when
the previous one has returned. ``--seconds`` sizes the foreground phase by
a nominal cost per operation, so both sides of a comparison do the same
work on the same inputs. See perfbench/LAYOUT.md for the workloads, their
shapes and the metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import moonlink_spark  # noqa: E402,F401  (fails fast outside a checkout)

WORKLOADS = ("cdc_eager", "mixed")
DECLARED = ROOT / "BENCHMARK.json"

# ---- workload shapes ------------------------------------------------------
ROWS = 2000          # initial image rows (~16 KB each, ~32 MB of parquet)
BUCKETS = 4          # write.buckets of the image table
BATCH_ROWS = 200     # rows per foreground CDC batch
# nominal seconds of one foreground step: turns --seconds into a step count
NOMINAL_STEP_S = {"cdc_eager": 2.0, "mixed": 3.0}
MIN_STEPS = 3
PREWARM_BYTES = 1536 << 20
TICK_EVERY = 2       # mixed: auto_optimize after every second step
READ_KEYS = 50       # keys per selective read
WARMUP_ROWS = 40     # rows per untimed warmup batch
HEAP = "2g"
# mixed: table thresholds low enough that a tick resolves the equality
# deletes of the lazy batches before it and compacts their small insert
# files; a 4 MiB compaction target leaves the ~8 MB bucket files and their
# deletion vectors to the epilogue
MIXED_PROPS = {
    "moonlink.resolve-eq-deletes.min-files": "3",
    "moonlink.compaction.min-files": "4",
    "moonlink.compaction.target-bytes": str(4 << 20),
    "moonlink.rewrite-deletes.min-files": "4",
    "moonlink.manifest-rewrite.min-manifests": "8",
    "moonlink.expire.retain-last": "4",
}
ROW_FIXED_BYTES = 16  # w, h (int32) and phash (int64) per row
# a post-maintenance scan of the 32 MB table is mostly job overhead: each
# timed job reads this many copies of it
POST_SCAN_COPIES = 4


def hash_sum(*cols: str):
    """Order-independent content digest: the exact sum of a 64-bit row hash."""
    from pyspark.sql import functions as F

    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def op_mix(n: int) -> tuple[int, int, int]:
    """(inserts, updates, deletes): 25% / 50% / 25% of a batch."""
    return n // 4, n // 2, n - n // 4 - n // 2


def tail(samples: list[float]) -> tuple[float | None, int | None]:
    """Highest percentile with at least ten samples beyond it: the
    (n-10)-th smallest of n samples, as (value, percentile)."""
    n = len(samples)
    if n < 11:
        return None, None
    k = n - 10
    return sorted(samples)[k - 1], round(100 * k / n)


class Failures:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(what)


class Ledger:
    """Bytes of data and delete files added by commits, per phase."""

    def __init__(self):
        self.phase = "setup"
        self.bytes: dict[str, int] = {}

    def install(self) -> None:
        from moonlink_spark.table.catalog import Table

        orig = Table.commit
        ledger = self

        def commit(table, operation, added=None, *args, **kwargs):
            snap = orig(table, operation, added, *args, **kwargs)
            n = sum(e.file_size_bytes for e in added or [])
            ledger.bytes[ledger.phase] = ledger.bytes.get(ledger.phase, 0) + n
            return snap

        Table.commit = commit


def cpu_times() -> list[int]:
    """Aggregate /proc/stat CPU jiffies (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def prewarm_pages() -> None:
    """Touch and free PREWARM_BYTES of memory before Spark starts.

    A VM that materializes guest pages lazily makes first-touch memory far
    slower than recycled pages (bench.py's ``_prewarm_io`` note): a run
    that starts on a cold VM is slower across the board. Touching about
    the memory one run uses moves that cost into setup."""
    buf = bytearray(PREWARM_BYTES)
    page = 4096
    buf[::page] = b"\1" * len(range(0, PREWARM_BYTES, page))
    del buf


def start_spark(work: Path):
    from moonlink_spark.session import get_spark

    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    # every temp and spill file stays inside the checkout
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    cores = len(os.sched_getaffinity(0))
    # a small pre-touched heap: the tables are tens of MB, and a heap
    # materialized up front keeps page faults out of the timed phase
    # (bench.py's -Xms/-XX:+AlwaysPreTouch note); the rest of the host's
    # memory stays with the Python workers and the page cache
    spark = get_spark(
        cores=cores,
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": str(tmp),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, args, spark, cores: int, work: Path, rec, fails: Failures, ledger: Ledger):
        import numpy as np

        self.a = args
        self.spark = spark
        self.cores = cores
        self.work = work
        self.rec = rec
        self.fails = fails
        self.ledger = ledger
        self.traced = bool(args.trace)
        self.rng = np.random.default_rng(args.seed + 7919)
        self.merge_s: list[float] = []
        self.merge_rows = 0
        self.payload_bytes = 0
        self.read_s: list[float] = []
        self.candidate_ratios: list[float] = []
        self.ticks: list[list[str]] = []

    # ---- setup -------------------------------------------------------------
    def setup(self) -> None:
        from moonlink_spark.cdc import CdcScheduleGenerator
        from moonlink_spark.datagen import generate_images
        from moonlink_spark.datasource import register
        from moonlink_spark.schema import IMAGES_SCHEMA
        from moonlink_spark.table.catalog import create_table
        from moonlink_spark.table.writer import BUCKETS_PROP, write_bucketed_data_files

        props = {BUCKETS_PROP: str(BUCKETS)}
        if self.a.workload == "mixed":
            props.update(MIXED_PROPS)
        self.t = create_table(str(self.work / "images"), IMAGES_SCHEMA, properties=props)
        with self.rec.operation("setup.load"):
            df = generate_images(self.spark, ROWS, partitions=self.cores)
            entries = write_bucketed_data_files(
                self.spark, df, self.t.new_data_dir(), "image_id", BUCKETS,
                field_id_schema=self.t.schema,
            )
            self.t.commit("append", added=entries, lsn=1)
        self.gen = CdcScheduleGenerator(seed=self.a.seed)
        self.gen.live = {i: 0 for i in range(ROWS)}
        self.gen.next_new = ROWS
        self.gen.next_lsn = 2
        register(self.spark)
        # untimed warmups: both MERGE paths and both read paths compile and
        # spawn their Python workers here, not in the first timed call
        for mode in ("eager", "lazy"):
            self.merge(mode, WARMUP_ROWS, timed=False)
        self.range_read(timed=False)
        self.keyset_read(timed=False)

    # ---- operations --------------------------------------------------------
    def merge(self, mode: str, n: int, timed: bool = True) -> None:
        from pyspark.sql import functions as F

        from moonlink_spark.cdc import spec_to_spark
        from moonlink_spark.operators import merge as merge_mod

        ins, upd, dele = op_mix(n)
        spec = self.gen.next_spec(ins, upd, dele)
        # the payload is synthesized and cached before the timed call
        cdc = spec_to_spark(self.spark, spec, partitions=self.cores).cache()
        row = cdc.agg(
            F.count("*").alias("n"),
            F.sum(
                F.length("image_id") + F.coalesce(F.length("bytes"), F.lit(0))
                + F.coalesce(F.length("fmt"), F.lit(0))
                + F.coalesce(F.length("caption"), F.lit(0))
                + F.when(F.col("op") == "U", ROW_FIXED_BYTES).otherwise(0)
            ).alias("b"),
        ).first()
        with self.rec.operation("operators.merge", mode=mode, warmup=not timed) as op:
            res = merge_mod.merge_cdc_batch(
                self.spark, self.t, cdc, self.gen.commit_lsn, mode=mode
            )
        cdc.unpersist()
        touched = upd + dele  # keys the oracle says were live before the batch
        m = res.metrics or {}
        if mode == "eager":
            op.attrs["match_ratio"] = res.matched / touched
            if m.get("total_data_files"):
                self.candidate_ratios.append(m["pruned_candidates"] / m["total_data_files"])
        if timed:
            self.merge_s.append(op.end - op.start)
            self.merge_rows += row["n"]
            self.payload_bytes += row["b"]
        self.fails.check(
            res.upserted == ins + upd
            and (mode == "lazy" or res.matched == touched),
            f"merge lsn {self.gen.commit_lsn}: upserted {res.upserted}, matched {res.matched}",
        )

    def expected(self, idx) -> dict[str, str]:
        from moonlink_spark.datagen import caption_for

        out = {}
        for i in idx:
            v = self.gen.live[int(i)]
            out[f"img{int(i):012d}"] = caption_for(int(i)) + (f" v{v}" if v else "")
        return out

    def range_read(self, timed: bool = True) -> None:
        """Key range through the DataSource, filter pushed down."""
        from pyspark.sql import functions as F

        live = sorted(self.gen.live)
        lo = int(self.rng.choice(live))
        lo_id, hi_id = f"img{lo:012d}", f"img{lo + READ_KEYS - 1:012d}"
        with self.rec.operation("datasource.read" if timed else "setup.read") as op:
            df = (
                self.spark.read.format("moonlink").load(self.t.location)
                .filter((F.col("image_id") >= lo_id) & (F.col("image_id") <= hi_id))
            )
            rows = df.collect()
        if timed:
            self.read_s.append(op.end - op.start)
            if self.traced:
                op.attrs["partitions"] = df.rdd.getNumPartitions()
        want = self.expected(i for i in range(lo, lo + READ_KEYS) if i in self.gen.live)
        self.fails.check(
            {r["image_id"]: r["caption"] for r in rows} == want and len(rows) == len(want),
            f"range read {lo_id}..{hi_id}",
        )

    def keyset_read(self, timed: bool = True) -> None:
        """Random key set through scan_values."""
        from moonlink_spark.table import scan as scan_mod

        idx = self.rng.choice(sorted(self.gen.live), size=READ_KEYS, replace=False)
        keys = [f"img{int(i):012d}" for i in idx]
        with self.rec.operation("read.keyset" if timed else "setup.read") as op:
            rows = scan_mod.scan_values(self.spark, self.t, "image_id", keys).collect()
        if timed:
            self.read_s.append(op.end - op.start)
        self.fails.check(
            {r["image_id"]: r["caption"] for r in rows} == self.expected(idx)
            and len(rows) == READ_KEYS,
            "key-set read",
        )

    def full_scan(self, kind: str, df_fn=None, copies: int = 1) -> tuple[float, tuple]:
        """Full scan that reads every column, ``copies`` times in one Spark
        job so a small table's scan is not all job overhead. Returns the
        seconds per copy and the content digest of one copy: (rows, hash
        sum over (image_id, caption), hash sum over all columns, logical
        bytes)."""
        from functools import reduce

        from pyspark.sql import functions as F

        from moonlink_spark.table import scan as scan_mod
        from moonlink_spark.table.format import EQ_DELETES

        read = df_fn or (lambda: scan_mod.scan(self.spark, self.t))
        cols = [f.name for f in self.t.schema.fields]
        with self.rec.operation(kind) as op:
            df = reduce(lambda x, y: x.unionAll(y), [read() for _ in range(copies)])
            t_exec = time.perf_counter()
            row = df.agg(
                F.count("*"),
                hash_sum("image_id", "caption"),
                hash_sum(*cols),
                F.sum(F.length("image_id") + F.length("bytes") + F.length("fmt")
                      + F.length("caption") + ROW_FIXED_BYTES),
            ).first()
            op.attrs["exec_s"] = (time.perf_counter() - t_exec) / copies
        if df_fn is None:
            op.attrs["data_files"] = len(self.t.data_entries())
            op.attrs["delete_files"] = len(self.t.delete_entries()) + len(
                self.t.entries(content=EQ_DELETES)
            )
        return (op.end - op.start) / copies, tuple(int(x or 0) // copies for x in row)

    def tick(self) -> None:
        from moonlink_spark.operators import maintenance

        with self.rec.operation("operators.maintenance"):
            rep = maintenance.auto_optimize(self.spark, self.t)
        self.ticks.append(list(rep.triggered))

    # ---- phases ------------------------------------------------------------
    def foreground(self) -> None:
        w = self.a.workload
        steps = max(MIN_STEPS, round(self.a.seconds / NOMINAL_STEP_S[w]))
        self.ledger.phase = "merge"
        for i in range(steps):
            if w == "cdc_eager":
                self.merge("eager", BATCH_ROWS)
            else:
                self.merge("lazy", BATCH_ROWS)
                self.range_read()
                self.keyset_read()
                if (i + 1) % TICK_EVERY == 0:
                    self.ledger.phase = "maintain"
                    self.tick()
                    self.ledger.phase = "merge"
        self.steps = steps

    def oracle_digest(self) -> tuple[int, int]:
        """(rows, hash sum over (image_id, caption)) of the oracle's live rows."""
        from pyspark.sql import functions as F

        want = self.expected(self.gen.live)
        row = self.spark.createDataFrame(
            list(want.items()), "image_id string, caption string"
        ).agg(F.count("*"), hash_sum("image_id", "caption")).first()
        return int(row[0]), int(row[1] or 0)

    def same_content(self, got: tuple, ref: tuple, what: str) -> None:
        """Equal row counts and hash sums over all columns."""
        self.fails.check(got[0] == ref[0] and got[2] == ref[2], what)

    def epilogue(self) -> dict:
        from moonlink_spark.operators import cluster as cluster_mod
        from moonlink_spark.operators import compact as compact_mod
        from moonlink_spark.operators import expire as expire_mod
        from moonlink_spark.operators import manifest_rewrite as mr_mod
        from moonlink_spark.operators import publish as publish_mod

        out: dict = {}
        data_bytes = sum(e.file_size_bytes for e in self.t.data_entries())
        want = self.oracle_digest()

        def mor_scan(i: int) -> tuple[float, tuple]:
            secs, digest = self.full_scan("table.scan.mor")
            self.fails.check(digest[:2] == want, "merge-on-read scan vs oracle")
            return secs, digest

        mor, pre = self.repeat(mor_scan, 2, 2.0)
        live_bytes = pre[3]
        out["mor_scan_gbps"] = data_bytes / statistics.median(mor) / 1e9
        out["space_amp_pre"] = self.head_bytes() / live_bytes
        if self.a.workload != "mixed":  # mixed read beside every write
            self.range_read()
            self.keyset_read()

        def publish(i: int) -> tuple[float, str]:
            dest = str(self.work / f"published-{i}")
            with self.rec.operation("operators.publish") as op:
                publish_mod.publish_iceberg(self.spark, self.t, dest)
            return op.end - op.start, dest

        pub, dest = self.repeat(publish, 2, 1.5, max_n=50)
        out["publish_s"] = statistics.median(pub)
        _, published = self.full_scan(
            "check.published", lambda: publish_mod.read_published(self.spark, dest)
        )
        self.same_content(published, pre, "read_published == scan")

        self.ledger.phase = "maintain"
        steps = [
            ("operators.compact", lambda: compact_mod.compact(
                self.spark, self.t, mode=compact_mod.FULL)),
            ("operators.cluster", lambda: cluster_mod.cluster(
                self.spark, self.t, cols=("phash", "w", "h"), strategy="hilbert")),
            # the table has one manifest after clustering: min_manifests=1
            # makes the rewrite run instead of skipping
            ("operators.manifest_rewrite", lambda: mr_mod.rewrite_manifests(
                self.spark, self.t, min_manifests=1)),
            ("operators.expire", lambda: expire_mod.expire_snapshots(
                self.t, retain_last=1)),
        ]
        maintain_s = 0.0
        for kind, fn in steps:
            with self.rec.operation(kind) as op:
                res = fn()
            maintain_s += op.end - op.start
            self.fails.check(not res.skipped, f"{kind} ran (skipped == False)")
            if kind == "operators.cluster":
                op.attrs["phash_overlap"] = cluster_mod.clustering_overlap(
                    self.t.data_entries(), "phash")
        out["maintain_s"] = maintain_s

        post_bytes = sum(e.file_size_bytes for e in self.t.data_entries())

        def post_scan(i: int) -> tuple[float, tuple]:
            secs, digest = self.full_scan("table.scan.post", copies=POST_SCAN_COPIES)
            self.same_content(digest, pre, "post-maintenance content == pre-maintenance")
            return secs, digest

        scans, _ = self.repeat(post_scan, 3, 1.5)
        out["scan_gbps"] = post_bytes / statistics.median(scans) / 1e9
        # an idle tick on the maintained table: the steady-state cost of
        # auto maintenance when nothing crossed a threshold
        self.tick()
        out["rewrite_amp"] = self.ledger.bytes.get("maintain", 0) / live_bytes
        out["live_bytes"] = live_bytes
        return out

    @staticmethod
    def repeat(fn, min_n: int, min_s: float, max_n: int = 15) -> tuple[list[float], object]:
        """Call ``fn(i) -> (seconds, result)`` at least ``min_n`` times and
        until ``min_s`` seconds have passed: a fast operation gets more
        samples, so its median is as steady as a slow one's. Returns the
        samples and the last result."""
        secs: list[float] = []
        t0 = time.perf_counter()
        while len(secs) < max_n and (
            len(secs) < min_n or time.perf_counter() - t0 < min_s
        ):
            s, res = fn(len(secs))
            secs.append(s)
        return secs, res

    def head_bytes(self) -> int:
        self.t.refresh()
        return sum(e.file_size_bytes for e in self.t.entries())

    def stored_bytes(self) -> int:
        total = 0
        for dirpath, _, files in os.walk(self.t.location):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total


def run(args) -> int:
    from spans import Timer, Tracer, layer_metrics

    declared = json.loads(DECLARED.read_text())
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    fails = Failures()
    ledger = Ledger()
    ledger.install()
    cpu0 = cpu_times()
    prewarm_pages()
    spark, cores = start_spark(work)
    info: dict = {"spark_start_s": time.perf_counter() - T_START}
    rec = Tracer(spark) if args.trace else Timer()
    if args.trace:
        rec.install()
    e2e: dict = {}
    try:
        b = Bench(args, spark, cores, work, rec, fails, ledger)
        b.setup()
        e2e["setup_s"] = time.perf_counter() - T_START
        b.foreground()
        t_fg = time.perf_counter()
        epi = b.epilogue()
        info["foreground_s"] = t_fg - T_START - e2e["setup_s"]
        info["epilogue_s"] = time.perf_counter() - t_fg
        e2e["merge_p50_s"] = statistics.median(b.merge_s)
        e2e["cdc_rows_per_s"] = b.merge_rows / sum(b.merge_s)
        e2e["read_p50_s"] = statistics.median(b.read_s)
        for k in ("mor_scan_gbps", "scan_gbps", "maintain_s", "publish_s", "rewrite_amp"):
            e2e[k] = epi[k]
        e2e["write_amp"] = ledger.bytes.get("merge", 0) / b.payload_bytes
        e2e["space_amp"] = b.stored_bytes() / epi["live_bytes"]
        if args.workload == "mixed":
            fails.check(
                any("resolve-eq-deletes" in t for t in b.ticks),
                "a mixed tick resolved equality deletes",
            )
        if args.workload == "cdc_eager":
            fails.check(bool(b.candidate_ratios), "cdc_eager recorded candidate_ratio")
        info["steps"] = b.steps
        info["merge_samples_s"] = [round(x, 3) for x in b.merge_s]
        info["read_samples_s"] = [round(x, 3) for x in b.read_s]
        for name, samples in (("merge", b.merge_s), ("read", b.read_s)):
            info[f"{name}_tail_s"], info[f"{name}_tail_pct"] = tail(samples)
        info["space_amp_pre"] = epi["space_amp_pre"]
        info["ticks"] = b.ticks
    except Exception as exc:  # the run cannot continue: report it as failed
        import traceback

        traceback.print_exc()
        fails.attempted += 1
        fails.failed += 1
        fails.reasons.append(f"exception: {exc!r}")
    finally:
        if args.trace:
            rec.uninstall()
        stop_spark(spark)

    if args.trace:
        values, kinds = layer_metrics(rec)
        trace_dir = ROOT / ".bench_trace"
        trace_dir.mkdir(exist_ok=True)
        rec.dump(str(trace_dir / f"{args.workload}-seed{args.seed}.json"))
        wanted = declared["per_layer"]
    else:
        values, kinds, wanted = e2e, {}, declared["end_to_end"]
    out = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
           for m in wanted if m["name"] in values}
    if not fails.failed:
        for m in wanted:
            fails.check(m["name"] in values, f"metric {m['name']} was measured")
    attempted = fails.attempted + sum(
        1 for o in rec.ops if not o.kind.startswith(("setup.", "check."))
    )
    # the host's share of this run's CPU time given to other guests: a
    # high value explains a run that is slow across the board
    dcpu = [y - x for x, y in zip(cpu0, cpu_times())]
    info["cpu_steal_share"] = round(dcpu[7] / max(sum(dcpu), 1), 4)

    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cores={cores} wall_s={time.perf_counter() - T_START:.1f}")
    for k, v in info.items():
        print(f"  {k} = {v}")
    for m in declared["end_to_end"]:
        if m["name"] in e2e:
            print(f"  {m['name']} = {e2e[m['name']]:.6g} {m['unit']}")
    print(f"  failed_frac = {fails.failed / max(attempted, 1):.6g} ratio")
    for kind, bd in kinds.items():
        print(f"  op {kind}: " + ", ".join(f"{k}={v:.4g}" for k, v in bd.items()))
    if args.trace:
        for name, m in out.items():
            print(f"  {name} = {m['value']:.6g} {m['unit']}")
    for r in fails.reasons:
        print(f"  FAILED: {r}")
    shutil.rmtree(work, ignore_errors=True)
    ok = fails.failed == 0
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": fails.failed,
                      "metrics": out}))
    return 0 if ok else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args())


if __name__ == "__main__":
    sys.exit(main())
