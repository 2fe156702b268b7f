"""Pipeline benchmark: times the two production plans end to end.

    python3 perfbench/run.py --workload kg_link --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` (perfbench/gen.py),
writes them to parquet, then drives ``plans.kg_pipeline.run_kg_pipeline``
or ``plans.curation_pipeline.run_curation_pipeline`` with their real
``write_stage`` parquet sinks on ``local[4]``, one plan call at a time
(closed loop, one client).

``--trace 0``:

1. set-up, once: the imports, the JVM launch, ``get_spark``, package
   shipping and Python worker start-up (``setup_s``: process start to
   the first timed call, input generation left out);
2. the first plan call of the process into a fresh work dir
   (``job_s``: what one CLI run pays after set-up).  At the workloads'
   sizes this one call outlasts ``--seconds``, so it is the whole
   measured window;
3. untimed output checks on the job's work dir; every failed or
   raising call counts in ``failed``.  Digests are compared across runs
   only by ``--trace 1`` (its traced call against its cold call) and by
   the self-tests (a ``--trace 0`` run against a ``--trace 1`` run).

``--trace 1`` times a cold plan call, a traced warm call with a traced
resume (perfbench/tracing.py), then an untraced warm call, and prints
the per-layer metrics, ``resume_s`` among them.

Human-readable ``#`` lines go first; the last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
Everything a run writes lives under ``.perfbench_run/`` in the working
directory and is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402

CPUS = 4

END_TO_END = {                          # name -> unit
    "job_s": "s", "docs_per_s": "docs/s", "setup_s": "s",
    "stored_bytes_per_input_byte": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every ``--trace 1`` metric, in BENCHMARK.json order."""
    from tracing import ENGINE_METRICS, LAYERS
    units = {
        "session.get_spark_s": "s", "session.warm_s": "s",
        "extract.s": "s", "extract.rows_out": "count",
        "ner.s": "s", "ner.rows_per_s": "rows/s",
        "spans.s": "s", "spans.rows_out": "count",
        "triples.s": "s", "triples.rows_out": "count",
        "link.s": "s", "link.exact_share": "ratio", "link.lsh_share": "ratio",
        "link.fallback_share": "ratio", "link.lsh_pairs": "count",
        "link.lsh_useful_ratio": "ratio",
        "cc.s": "s", "cc.edges_in": "count", "cc.components_out": "count",
        "cc.jobs": "count",
        "canon.s": "s", "canon.rows_out": "count",
        "web_verdict.s": "s", "web_verdict.keep_share": "ratio",
        "exact_substr.s": "s", "exact_substr.removed_token_share": "ratio",
        "packing.chunk_s": "s", "packing.pack_s": "s",
        "packing.fill_ratio": "ratio",
        "checkpoints.write_s": "s", "checkpoints.bytes_written": "bytes",
        "checkpoints.files_written": "count",
        "checkpoints.resume_read_s": "s", "resume_s": "s",
    }
    for layer in LAYERS:
        for m, u in ENGINE_METRICS.items():
            units[f"{layer}.{m}"] = u
    units.update({"engine.peak_rss_mb": "MB", "trace.unattributed_s": "s",
                  "trace.overhead_s": "s"})
    return units


# -- host context ------------------------------------------------------------

def _steal_jiffies() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class HostWindow:
    """loadavg, idle share and steal share over a window (idle via the
    frozen suite's own /proc/stat helpers)."""

    def __init__(self):
        import bench
        self._bench = bench
        self.a, self.sa = bench._proc_stat(), _steal_jiffies()

    def close(self) -> dict:
        b, sb = self._bench._proc_stat(), _steal_jiffies()
        dtot = sb[1] - self.sa[1]
        return {"loadavg_1m": os.getloadavg()[0],
                "idle_share": self._bench._idle_between(self.a, b),
                "steal_share": (sb[0] - self.sa[0]) / dtot if dtot else 0.0}


# -- session -----------------------------------------------------------------

def session_conf(run_dir: Path, event_log: Path | None) -> dict:
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": str(run_dir / "local")}
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": str(event_log),
                     "spark.eventLog.compress": "false"})
    return conf


def start_session(conf: dict):
    from bench import _warm_python_workers
    from ner_extractor_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]",
                      extra_conf=conf)
    t1 = time.perf_counter()
    _warm_python_workers(spark, CPUS)
    return spark, t1 - t0, time.perf_counter() - t0


def shutdown(spark=None) -> None:
    """Stop Spark, then the JVM, and wait for every child to end."""
    from pyspark import SparkContext
    from tracing import _descendants
    kids = _descendants(os.getpid())
    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


# -- workloads ---------------------------------------------------------------

def read_table(path: str):
    """A finished stage table, read with pyarrow (no Spark job), so the
    checks cost milliseconds; hive partition dirs become columns."""
    import pyarrow.dataset as ds
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


class Workload:
    """One plan, its inputs and its output checks."""

    def __init__(self, spark, inp: gen.Inputs):
        self.spark, self.inp = spark, inp

    def call(self, wd: str):
        raise NotImplementedError

    def resume(self, wd: str) -> int:
        return self.call(wd).count()

    def digest(self, wd: str) -> str:
        t = read_table(f"{wd}/{self.final}")
        rows = sorted(zip(*(t.column(c).to_pylist() for c in sorted(t.column_names))))
        return hashlib.sha256(repr(rows).encode()).hexdigest()

    def check_lineage(self, wd: str) -> list[str]:
        lin = read_table(f"{wd}/_lineage").to_pylist()
        bad = []
        for stage in self.stages:
            n = read_table(f"{wd}/{stage}").num_rows
            got = sum(r["row_count"] for r in lin if r["stage"] == stage)
            if got != n:
                bad.append(f"lineage {stage}: {got} != {n}")
        return bad


class KG(Workload):
    final = "triples"
    stages = ("sentences", "tagged", "mentions", "triples_raw", "linked",
              "components", "triples")

    def __init__(self, spark, inp):
        super().__init__(spark, inp)
        self.dictionary = gen.load_dictionary(inp.dictionary_path)
        self.n_rows = inp.props["pages"]

    def call(self, wd: str):
        from ner_extractor_spark.plans import kg_pipeline
        from ner_extractor_spark.schemas import ALIASES, PAGES
        pages = self.spark.read.schema(PAGES).parquet(self.inp.input_path)
        aliases = self.spark.read.schema(ALIASES).parquet(self.inp.aliases_path)
        return kg_pipeline.run_kg_pipeline(
            self.spark, pages, aliases, self.dictionary, wd,
            use_html=True, linker="exact").triples

    def check(self, wd: str) -> list[str]:
        t = read_table(f"{wd}/mentions")
        pred = set(zip(*(t.column(c).to_pylist() for c in
                         ("url", "sent_id", "start", "end", "label"))))
        gold = self.inp.gold_mentions
        hit = len(pred & gold)
        p, r = hit / max(len(pred), 1), hit / max(len(gold), 1)
        bad = [] if min(p, r) >= 0.95 else [f"mention P/R {p:.4f}/{r:.4f} < 0.95"]
        return bad + self.check_lineage(wd)


class Curation(Workload):
    final = "packed"
    stages = ("verdict", "cleaned", "chunks", "packed")

    def __init__(self, spark, inp):
        super().__init__(spark, inp)
        from ner_extractor_spark.operators.classifier import synthetic_weights
        self.weights = synthetic_weights(spark)
        self.n_rows = inp.props["docs"]
        self.params = gen.PARAMS["curate_assemble"]

    def call(self, wd: str):
        from ner_extractor_spark.plans import curation_pipeline
        docs = self.spark.read.parquet(self.inp.input_path)
        return curation_pipeline.run_curation_pipeline(
            self.spark, docs, self.weights, wd,
            blocked_domains=gen.BLOCKED_DOMAINS,
            blocked_terms=gen.BLOCKED_TERMS, near=True, span_dedup=True,
            chunk_size=self.params["chunk_size"],
            budget=self.params["budget"]).packed

    def check(self, wd: str) -> list[str]:
        bad = []
        ids = read_table(f"{wd}/verdict").column("doc_id").to_pylist()
        if not len(ids) == len(set(ids)) == self.n_rows:
            bad.append(f"verdict rows {len(ids)}, ids {len(set(ids))}, "
                       f"docs {self.n_rows}")
        # a bin may overshoot the budget by less than one chunk
        # (pack_sequences' documented bound), never by more
        limit = self.params["budget"] + self.params["chunk_size"]
        bins: dict = {}
        for r in read_table(f"{wd}/packed").to_pylist():
            key = (r["bucket"], r["bin"])
            bins[key] = bins.get(key, 0) + r["n_tokens"]
        over = sum(v >= limit for v in bins.values())
        if over:
            bad.append(f"{over} packed bins at or over budget + chunk")
        return bad + self.check_lineage(wd)


WORKLOADS = {"kg_link": KG, "kg_crawl": KG, "curate_assemble": Curation}


def dir_bytes(path: Path) -> tuple[int, int]:
    n = files = 0
    for p in path.rglob("*"):
        if p.is_file():
            n += p.stat().st_size
            files += 1
    return n, files


# -- runs --------------------------------------------------------------------

class Run:
    def __init__(self, args, run_dir: Path):
        self.args, self.run_dir = args, run_dir
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def attempt(self, fn, *a):
        """One plan call; raising counts as a failed attempt."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception as e:  # noqa: BLE001 — counted, reported, not hidden
            traceback.print_exc()
            self.failed += 1
            self.problems.append(f"{type(e).__name__}: {e}"[:500])
            return None

    def checked(self, wl: Workload, wd: str, ref: str | None) -> str | None:
        """Output checks on a finished work dir; returns its digest.
        A failed check marks the plan call that wrote ``wd`` failed."""
        bad = wl.check(wd)
        d = wl.digest(wd)
        if ref is not None and d != ref:
            bad.append("final table digest differs from the first run of this seed")
        self.fail_if(bad)
        return d

    def fail_if(self, bad: list[str]) -> None:
        if bad:
            self.failed += 1
            self.problems.extend(bad)


def note(msg: str) -> None:
    """Progress on stderr, stamped with seconds since process start."""
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def timed(fn, *a):
    t0 = time.perf_counter()
    out = fn(*a)
    return out, time.perf_counter() - t0


def run_untraced(r: Run, inp: gen.Inputs, gen_s: float) -> dict:
    spark, get_spark_s, session_s = start_session(session_conf(r.run_dir, None))
    wl = WORKLOADS[r.args.workload](spark, inp)
    setup_s = time.perf_counter() - T_START - gen_s
    note(f"set-up {setup_s:.2f}s (get_spark {get_spark_s:.2f}s, "
         f"with worker start-up {session_s:.2f}s)")

    host = HostWindow()
    wd = str(r.run_dir / "wd1")
    out, job = timed(r.attempt, wl.call, wd)
    if out is None:
        shutdown(spark)
        return {}
    note(f"job {job:.2f}s")
    stored = dir_bytes(Path(wd))[0] / inp.props["input_bytes"]
    ctx = host.close()
    ref = r.checked(wl, wd, None)
    note("checked")
    shutdown(spark)
    note("shut down")
    print(f"# final table digest {ref}", flush=True)
    print(f"# host: {json.dumps(ctx)}", flush=True)
    return {
        "job_s": job,
        "docs_per_s": wl.n_rows / job,
        "setup_s": setup_s,
        "stored_bytes_per_input_byte": stored,
    }


def run_traced(r: Run, inp: gen.Inputs) -> dict:
    import tracing
    from pyspark.sql import functions as F

    spark, get_spark_s, _ = start_session(
        session_conf(r.run_dir, r.run_dir / "eventlog"))
    wl = WORKLOADS[r.args.workload](spark, inp)
    ref = None
    out, first_s = timed(r.attempt, wl.call, str(r.run_dir / "wd0"))
    if out is not None:
        ref = r.checked(wl, str(r.run_dir / "wd0"), None)
    shutil.rmtree(r.run_dir / "wd0", ignore_errors=True)
    note(f"cold call {first_s:.2f}s")

    tr = tracing.Tracer(spark, f"{r.args.workload}-{r.args.seed}")
    uninstall = tracing.install(tr)
    wd = str(r.run_dir / "wd2")
    rss = tracing.RssSampler()
    rss.start()
    with tr.span("job", None, "job") as job:
        r.attempt(wl.call, wd)
    peak_mb = rss.stop()
    job_spans = list(tr.spans)
    with tr.span("resume", None, "job") as res:
        n = r.attempt(wl.resume, wd)
    uninstall()
    r.checked(wl, wd, ref)
    final_rows = read_table(f"{wd}/{wl.final}").num_rows
    r.fail_if([] if n == final_rows else
              [f"resume counted {n} final rows, the job wrote {final_rows}"])
    # the untraced twin runs after the traced call, so it is the more
    # warmed of the two and trace.overhead_s errs high, not low
    _, untraced_s = timed(r.attempt, wl.call, str(r.run_dir / "wd1"))
    shutil.rmtree(r.run_dir / "wd1", ignore_errors=True)
    note(f"traced call {job['end'] - job['start']:.2f}s, "
         f"resume {res['end'] - res['start']:.2f}s, untraced {untraced_s:.2f}s")
    print(f"# final table digest {ref}", flush=True)

    m = dict.fromkeys(per_layer_units(), 0.0)
    m["session.get_spark_s"] = get_spark_s
    m["session.warm_s"] = first_s - untraced_s
    secs = tracing.layer_seconds(job_spans)
    for layer in ("extract", "ner", "spans", "triples", "link", "cc", "canon",
                  "web_verdict", "exact_substr"):
        m[f"{layer}.s"] = secs[layer]
    m["checkpoints.write_s"] = secs["checkpoints"]
    m["packing.chunk_s"] = tracing.span_seconds(
        job_spans, lambda s: s["name"] == "compute:chunks")
    m["packing.pack_s"] = tracing.span_seconds(
        job_spans, lambda s: s["name"] == "compute:packed")
    m["checkpoints.bytes_written"], m["checkpoints.files_written"] = \
        dir_bytes(Path(wd))
    eager_in_resume = tracing.span_seconds(
        tr.spans, lambda s: s["kind"] == "eager" and s["start"] >= res["start"])
    m["resume_s"] = res["end"] - res["start"]
    m["checkpoints.resume_read_s"] = m["resume_s"] - eager_in_resume
    m["trace.unattributed_s"] = tracing.self_times(job_spans)[job["id"]]
    m["trace.overhead_s"] = job["end"] - job["start"] - untraced_s
    m["engine.peak_rss_mb"] = peak_mb

    def table(name):
        return spark.read.parquet(f"{wd}/{name}")

    if isinstance(wl, KG):
        from ner_extractor_spark.operators.link import lsh_candidates, unlinked
        rows = {t: read_table(f"{wd}/{t}").num_rows for t in wl.stages}
        m["extract.rows_out"] = rows["sentences"]
        m["ner.rows_per_s"] = rows["tagged"] / m["ner.s"] if m["ner.s"] else 0.0
        m["spans.rows_out"] = rows["mentions"]
        m["triples.rows_out"] = rows["triples_raw"]
        m["canon.rows_out"] = rows["triples"]
        known = set(read_table(inp.aliases_path).column("alias_norm").to_pylist())
        lk = read_table(f"{wd}/linked")
        kinds = {"exact": 0, "lsh": 0, "fallback": 0}
        resolved = set()
        for a, e in zip(lk.column("alias_norm").to_pylist(),
                        lk.column("entity_id").to_pylist()):
            k = "fallback" if e.startswith("S-") else "exact" if a in known else "lsh"
            kinds[k] += 1
            if k == "lsh":
                resolved.add(a)
        for k, n in kinds.items():
            m[f"link.{k}_share"] = n / max(lk.num_rows, 1)
        aliases = spark.read.parquet(inp.aliases_path)
        resid = unlinked(table("mentions"), aliases).select("alias_norm").distinct()
        pairs = lsh_candidates(resid, "alias_norm",
                               aliases.select("alias_norm").distinct(),
                               "alias_norm", broadcast_right=True).count()
        m["link.lsh_pairs"] = pairs
        m["link.lsh_useful_ratio"] = len(resolved) / pairs if pairs else 0.0
        edges = tr.calls.get("connected_components")
        if edges is not None:
            m["cc.edges_in"] = edges.count()
        m["cc.components_out"] = len(set(
            read_table(f"{wd}/components").column("comp").to_pylist()))
    else:
        v = table("verdict")
        m["web_verdict.keep_share"] = v.filter("keep").count() / v.count()
        c = table("cleaned").select(
            F.sum("n_removed_tokens").alias("rm"),
            F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("kept")).first()
        total = (c["rm"] or 0) + (c["kept"] or 0)
        m["exact_substr.removed_token_share"] = (c["rm"] or 0) / total if total else 0.0
        p = table("packed").select(
            F.sum("n_tokens").alias("t"),
            F.countDistinct("bucket", "bin").alias("bins")).first()
        budget = gen.PARAMS["curate_assemble"]["budget"]
        m["packing.fill_ratio"] = p["t"] / (p["bins"] * budget) if p["bins"] else 0.0

    note("probes done")
    app_id = spark.sparkContext.applicationId
    shutdown(spark)
    folded = tracing.fold_event_log(
        tracing.event_log_files(r.run_dir / "eventlog", app_id), job_spans)
    for layer, vals in folded["layers"].items():
        for k, v in vals.items():
            m[f"{layer}.{k}"] = v
    m["cc.jobs"] = sum(n for sid, n in folded["jobs_per_span"].items()
                       if any(s["id"] == sid and s["layer"] == "cc"
                              and s["kind"] == "eager" for s in job_spans))
    for s in job_spans:
        print(f"# span {s['name']:<28} layer={s['layer'] or '-':<13} "
              f"{s['end'] - s['start']:8.3f} s", flush=True)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10,
                    help="measured window; a run measures one cold plan "
                         "call, which outlasts it at the workloads' sizes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a TERM (e.g. a timeout) unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seed == gen.HELD_OUT_SEED:
        print(f"# note: seed {gen.HELD_OUT_SEED} is the held-out seed",
              file=sys.stderr)

    run_dir = Path.cwd() / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # the program's session knobs stay at its defaults whatever the
    # caller's environment holds
    for knob in ("SPARK_SHUFFLE_PARTITIONS", "SPARK_SCHEDULER_MODE",
                 "SPARK_PERIODIC_GC", "SPARK_DRIVER_MEM"):
        os.environ.pop(knob, None)
    import tempfile
    tempfile.tempdir = None
    try:
        import pyspark  # noqa: F401
        import ner_extractor_spark.session  # noqa: F401

        t0 = time.perf_counter()
        inp = gen.generate(args.workload, args.seed, run_dir / "input")
        gen_s = time.perf_counter() - t0
        print(f"# workload {args.workload} seed {args.seed}: inputs "
              f"{json.dumps(inp.props)} (generated in {gen_s:.2f} s)", flush=True)

        r = Run(args, run_dir)
        metrics = (run_traced(r, inp) if args.trace
                   else run_untraced(r, inp, gen_s))
    finally:
        from pyspark import SparkContext
        if SparkContext._gateway is not None:   # an error left Spark up
            shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            (run_dir.parent).rmdir()
        except OSError:
            pass
    for p in r.problems:
        print(f"# problem: {p}", flush=True)
    if not metrics:
        print("# no successful timed run", file=sys.stderr)
        return 1
    units = per_layer_units() if args.trace else END_TO_END
    print(f"# failed_share {r.failed / max(r.attempted, 1)} "
          f"({r.failed} of {r.attempted} plan calls)", flush=True)
    for k, u in units.items():
        print(f"# {k} = {metrics[k]} {u}", flush=True)
    print(json.dumps({
        "correct": r.failed == 0, "attempted": r.attempted, "failed": r.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
