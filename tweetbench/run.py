"""Benchmark of the tweet -> four-pivot pipeline (``plans.tweets.run_all``).

One closed-loop client on ``local[<cores>]``: each pass reads the
workload's tweet CSVs (``sources.csv.read_tweets_csv``), runs the four
outputs off one enrichment (``plans.tweets.run_all``) and writes them
(``sources.sinks.write_csv``); the next pass starts when the previous
one has written all four CSVs. Inputs come from ``gen.py`` with the
given seed; every pass's outputs are checked by ``oracle.py`` in a
separate process after the run.

Usage, from the repository root::

    python3 tweetbench/run.py --workload longtext_bigdict --seed 1 \\
        --seconds 15 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs one
more pass with the layer calls wrapped in spans (``spans.py``) and reports
the per-layer metrics. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines
before it print every metric by name with its unit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUTPUT_NAMES = ("frequency_monthly", "sentiments_monthly",
                "sentiment2d_monthly", "frequency_2d_monthly")
# set-ups per --trace 0 run: the first from a fresh interpreter and
# JVM, the others restart the SparkSession inside the same JVM
SETUPS = 3
# warm passes per run at least, however long they take; their median
# damps the host's second-to-second speed swings
MIN_WARM = 3
# driver heap, fixed (-Xms = -Xmx) so that peak RSS follows live data
# rather than the JVM's heap-resizing decisions
HEAP = "2g"


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def configure_env(work: str) -> None:
    """Keep Spark inside the work directory and sized to this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Xms{HEAP} pyspark-shell"


class Pipeline:
    """The program under test, driven only through its public API."""

    def __init__(self, patterns_path: str, lexicon_path: str, rec=None):
        from datapipelinedemo_spark.functions import ner, sentiment
        from datapipelinedemo_spark.plans import tweets
        from datapipelinedemo_spark.session import get_spark
        from datapipelinedemo_spark.sources import csv, sinks

        import gen

        self.rec = rec
        with self.span("session.get_spark"):
            self.spark = get_spark(app_name="tweetbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        with self.span("ner.pattern_table"):
            self.patterns = ner.pattern_table(self.spark, patterns_path).cache()
            self.patterns.count()
        with self.span("sentiment.lexicon_table"):
            self.lexicon = sentiment.lexicon_table(
                self.spark, gen.read_lexicon(lexicon_path)).cache()
            self.lexicon.count()
        self._tweets, self._csv, self._sinks = tweets, csv, sinks

    def span(self, name: str):
        return self.rec.span(name) if self.rec else contextlib.nullcontext()

    def run_pass(self, in_dir: str, out_dir: str, group: str, traced: bool) -> float:
        """One pass; returns its wall time in seconds."""
        from spans import instrument, materialize, patched

        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        # frames the pass caches, released after it: run_all caches its
        # enrichment without returning it, so an untraced pass records it
        held: list = []

        def keep(enrich):
            def wrapped(*a, **kw):
                held.append(enrich(*a, **kw))
                return held[-1]
            return wrapped

        span = self.span if traced else (lambda name: contextlib.nullcontext())
        with (instrument(self.rec, held) if traced
              else patched(self._tweets, "enrich", keep)):
            t = time.perf_counter()
            with span("pass"):
                tweets = self._csv.read_tweets_csv(self.spark, in_dir)
                if traced:
                    with span("sources.read"):
                        tweets, n = materialize(tweets, held)
                    self.rec.count("sources.rows_in", n)
                outs = self._tweets.run_all(tweets, self.patterns, self.lexicon)
                for name, df in outs.items():
                    with span("sinks.write_csv"):
                        self._sinks.write_csv(df, os.path.join(out_dir, name))
            elapsed = time.perf_counter() - t
        if traced:
            self.rec.count("sinks.bytes_out", dir_bytes(out_dir))
        for df in held:
            df.unpersist(blocking=True)
        sc.setJobGroup(None, None)
        return elapsed

    def job_counts(self, group: str) -> dict[str, int]:
        """Jobs, stages and tasks the scheduler ran for one job group."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stage_ids = {s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds}
        stages = [i for s in stage_ids if (i := st.getStageInfo(s))]
        ran = [s for s in stages if s.numCompletedTasks + s.numFailedTasks > 0]
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(ran),
            "spark.tasks": sum(s.numCompletedTasks + s.numFailedTasks for s in ran),
            "spark.tasks_failed": sum(s.numFailedTasks for s in ran),
        }

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        self.spark.stop()


def shutdown_jvm() -> None:
    """Close the py4j gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def check_outputs(paths: dict, passes: list[dict], work: str) -> dict[str, str | None]:
    spec = os.path.join(work, "out", "passes.json")
    with open(spec, "w") as f:
        json.dump(passes, f)
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "oracle.py"),
         "--patterns", paths["patterns"], "--lexicon", paths["lexicon"],
         "--passes", spec],
        capture_output=True, text=True, timeout=150, check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    import gen

    gen.workload_config(args.workload)  # fail fast on an unknown name
    if not os.path.isdir(os.path.join(ROOT, "datapipelinedemo_spark")):
        print(f"datapipelinedemo_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(os.path.join(work, "in"), ignore_errors=True)
        shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
        shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)


def _run(args, work: str) -> int:
    clock = [("start", time.perf_counter())]
    gen_out = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--out", os.path.join(work, "in")],
        capture_output=True, text=True, timeout=120, check=True)
    paths = json.loads(gen_out.stdout.strip().splitlines()[-1])

    from spans import SpanRecorder

    rec = SpanRecorder() if args.trace else None
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    pipe = Pipeline(paths["patterns"], paths["lexicon"], rec)
    setups = [time.perf_counter() - t0]
    clock.append(("setup", time.perf_counter()))

    # id, input, output, traced; then seconds + counts, or error
    passes: list[dict] = []

    def one_pass(traced: bool) -> None:
        i = len(passes)
        entry = {"id": i, "input": paths["tweets"],
                 "output": os.path.join(work, "out", f"pass-{i}"), "traced": traced}
        if rec:
            rec.pass_id = i
        try:
            entry["seconds"] = pipe.run_pass(entry["input"], entry["output"],
                                             f"tweetbench-pass-{i}", traced)
            entry["counts"] = pipe.job_counts(f"tweetbench-pass-{i}")
        except Exception as e:  # a failed pass is counted, the loop goes on
            entry["error"] = f"{type(e).__name__}: {e}"[:500]
        passes.append(entry)

    one_pass(False)  # cold
    # a traced run needs one untraced warm pass, as the base of trace.overhead_s
    min_warm, budget = (1, 0.0) if args.trace else (MIN_WARM, args.seconds)
    warm_start = time.perf_counter()
    while len(passes) - 1 < min_warm or time.perf_counter() - warm_start < budget:
        one_pass(False)
    n_untraced = len(passes)
    if args.trace:
        one_pass(True)

    clock.append(("passes", time.perf_counter()))
    jvm_pid = pipe.jvm_pid()
    if not args.trace:
        for _ in range(SETUPS - 1):
            pipe.stop()
            t = time.perf_counter()
            pipe = Pipeline(paths["patterns"], paths["lexicon"])
            setups.append(time.perf_counter() - t)
    peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    pipe.stop()
    shutdown_jvm()
    clock.append(("set-ups and stop", time.perf_counter()))

    verdicts = check_outputs(paths, [p for p in passes if "error" not in p], work)
    failed = sum(1 for p in passes if "error" in p or verdicts.get(str(p["id"])))
    for p in passes:
        why = p.get("error") or verdicts.get(str(p["id"]))
        if why:
            print(f"# pass {p['id']} failed: {why}", file=sys.stderr)

    clock.append(("oracle", time.perf_counter()))
    warm = [p["seconds"] for p in passes[1:n_untraced] if "seconds" in p]
    if args.trace:
        metrics = per_layer(rec, passes, n_untraced, warm)
        rec.dump(os.path.join(work, "spans.jsonl"))
    else:
        metrics = {
            "setup_s": (median(setups), "s"),
            "first_pass_s": (passes[0].get("seconds", float("nan")), "s"),
            "pass_p50_s": (median(warm), "s"),
            "tweets_per_s": (paths["n_tweets"] * len(warm) / sum(warm) if warm else 0.0,
                             "tweets/s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    print(f"# {args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(passes)} passes ({len(warm)} warm) "
          f"{[round(p.get('seconds', -1), 2) for p in passes]}, set-ups {[round(s, 3) for s in setups]}, "
          "phases " + ", ".join(f"{b[0]} {b[1] - a[1]:.1f}s" for a, b in zip(clock, clock[1:])))
    for name, (v, unit) in metrics.items():
        print(f"# {name} = {v:.6g} {unit}")
    print(f"# failed_frac = {failed / len(passes):.6g} ratio ({failed}/{len(passes)})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def per_layer(rec, passes, n_untraced, warm) -> dict:
    """Per-layer metrics: span totals and counts of the traced pass,
    scheduler counts of the warm untraced passes (median)."""
    traced = [p["id"] for p in passes[n_untraced:] if "seconds" in p]
    setup = rec.totals(None)

    def med_span(name, self_time=False):
        key = name + ".self" if self_time else name
        return median([rec.totals(i).get(key, 0.0) for i in traced])

    def med_count(name):
        return median([rec.counts.get((i, name), 0) for i in traced])

    def ratio(i, num, den=None):
        d = rec.counts.get((i, den), 0) if den else 1
        return rec.counts.get((i, num), 0) / d if d else float("nan")

    m = {
        "session.get_spark_s": (setup["session.get_spark"], "s"),
        "ner.pattern_table_s": (setup["ner.pattern_table"], "s"),
        "sources.read_s": (med_span("sources.read"), "s"),
        "sources.rows_in": (med_count("sources.rows_in"), "count"),
        "enrich.s": (med_span("enrich"), "s"),
        "enrich.self_s": (med_span("enrich", self_time=True), "s"),
        "enrich.rows_out": (med_count("enrich.rows_out"), "count"),
        "ner.s": (med_span("ner"), "s"),
        "ner.tokens_in": (med_count("ner.tokens_in"), "count"),
        "ner.phrases_out": (med_count("ner.phrases_out"), "count"),
        "ner.empty_frac": (median([ratio(i, "ner.empty_rows", "ner.rows_out")
                                   for i in traced]), "ratio"),
        "sentiment.s": (med_span("sentiment"), "s"),
        "sentiment.tokens_in": (med_count("sentiment.tokens_in"), "count"),
        "sentiment.scored_frac": (median([ratio(i, "sentiment.scored_rows", "sentiment.rows_out")
                                          for i in traced]), "ratio"),
        # run_all expands pairs once per 2-D output: pairs.s sums the
        # calls, the row counts are per call
        "pairs.s": (med_span("pairs"), "s"),
        "pairs.rows_out": (median([ratio(i, "pairs.rows_out", "pairs.calls")
                                   for i in traced]), "count"),
        "pairs.per_tweet": (median([
            ratio(i, "pairs.rows_out", "pairs.calls") / ratio(i, "enrich.rows_out")
            for i in traced]), "ratio"),
    }
    for name in OUTPUT_NAMES:
        m[f"tweets.{name}_s"] = (med_span("tweets." + name), "s")
        m[f"tweets.{name}_rows"] = (med_count(f"tweets.{name}_rows"), "count")
    m["sinks.write_csv_s"] = (med_span("sinks.write_csv"), "s")
    m["sinks.bytes_out"] = (med_count("sinks.bytes_out"), "bytes")
    warm_counts = [p["counts"] for p in passes[1:n_untraced] if "counts" in p]
    for key in ("spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed"):
        m[key] = (median([c[key] for c in warm_counts]), "count")
    traced_s = median([passes[i]["seconds"] for i in traced])
    m["trace.overhead_s"] = (traced_s - median(warm), "s")
    return m


if __name__ == "__main__":
    sys.exit(main())
