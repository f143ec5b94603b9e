"""End-to-end and per-layer benchmark of the process_spark engine.

    python3 benchmark/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One driver process runs one workload on
``local[<cores>]`` through the shared session of
``process_spark.session.get_spark``, as a closed loop: each operation
is issued only after the previous one returned.

Workloads:
  daylog_process  ``process_spark.cli.main(["process", <dir>, "--out", <dir>])``
                  over a week of generated day logs (one operation = one
                  CLI pass).
  llm_pipeline    the registry queries in ``LLM_QUERIES``, each built
                  through ``REGISTRY[name].fn`` and materialised with
                  ``toPandas()`` (one operation = one query), over a
                  generated documents/embeddings corpus.

Each run sets up (session start, input generation), runs one untimed
warm-up pass, then measures passes until ``--seconds`` have elapsed.
Every operation's output is checked outside the timed region; a raise,
a nonzero exit code or a wrong output counts as failed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` measured passes alternate untraced and traced; the
traced ones record spans (written to ``.bench_work/trace/``) and read
Spark's status store after each call, and the last line carries the
per-layer metrics. Human-readable detail goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)

#: One query: a run (JVM start, cold warm-up call, measured call) must
#: fit the benchmark's time budget on a 4-core host. This is the
#: construction-bound composite: 56 of its 59 jobs run while it is built.
LLM_QUERIES = ("retrieval_e2e_stored",)

#: Input generation is repeated this many times per run, median reported.
GEN_REPS = 3
#: Upper bound on measured passes, whatever ``--seconds`` says.
MAX_PASSES = 50

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_s_p50": "s",
    "query_s_tail": "s",
}

PER_LAYER = {
    "peak_rss_mb": "MiB",
    "session.start_s": "s",
    "inputs.gen_s": "s",
    "pass.cold_s": "s",
    "trace.overhead_s": "s",
    "queries.build_s": "s",
    "queries.eager_jobs": "count",
    "queries.eager_job_share": "ratio",
    "spark.action_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_ratio": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "sources.read_s": "s",
    "queries.nmea.pipeline_build_s": "s",
    "queries.nmea.pipeline_eager_jobs": "count",
    "cli.series_write_s": "s",
    "sources.json_write_s": "s",
}
for _q in LLM_QUERIES:
    PER_LAYER[f"queries.build_s.{_q}"] = "s"
    PER_LAYER[f"spark.action_s.{_q}"] = "s"
    PER_LAYER[f"queries.eager_jobs.{_q}"] = "count"


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples beyond it; the maximum when there are too few."""
    s = sorted(samples)
    i = len(s) - 11
    if i < 0:
        return s[-1], 100.0
    return s[i], round(100.0 * (i + 1) / len(s), 1)


class Run:
    """State shared by a workload's passes."""

    def __init__(self, spark, args, windows, spans):
        self.spark = spark
        self.args = args
        self.windows = windows  # JobWindows, or None when untraced
        self.spans = spans
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)


def measure(run: Run, one_pass, orders=None) -> dict:
    """Warm-up pass, then measured passes for ``--seconds``. In trace
    mode passes alternate untraced/traced, starting and ending untraced.
    ``one_pass(k, order, traced)``
    returns ``(pass_s, op_latencies, layer_values)``."""
    args = run.args

    def order(k):
        return orders[k] if orders else None

    with run.spans.span("pass", index=0, warmup=True):
        cold, _, _ = one_pass(0, order(0), False)
    plain, traced, ops, layers = [], [], [], []
    start = time.perf_counter()
    k = 1
    while k <= MAX_PASSES:
        is_traced = bool(args.trace) and k % 2 == 0
        with run.spans.span("pass", index=k, traced=is_traced):
            pass_s, lat, layer = one_pass(k, order(k), is_traced)
        if is_traced:
            traced.append(pass_s)
            layers.append(layer)
        else:
            plain.append(pass_s)
            ops.extend(lat)
        k += 1
        # Trace mode brackets each traced pass with untraced ones, so the
        # warm-up trend cancels out of trace.overhead_s.
        if time.perf_counter() - start >= args.seconds and (
            not args.trace or (traced and len(plain) > len(traced))
        ):
            break
    return {"cold": cold, "plain": plain, "traced": traced, "ops": ops,
            "layers": layers}


def median_layers(layers: list[dict]) -> dict:
    keys = set().union(*layers) if layers else set()
    return {k: statistics.median(d.get(k, 0) for d in layers) for k in keys}


def spark_layer(stats: dict) -> dict:
    out = {f"spark.{k}": v for k, v in stats.items()}
    run_s = stats.get("executor_run_s", 0)
    out["spark.cpu_ratio"] = stats.get("executor_cpu_s", 0) / run_s if run_s else 0
    return out


# --- daylog_process ---------------------------------------------------------

def _golden_rows() -> list[tuple]:
    """The registry's golden summary of the defaults day."""
    import duckdb

    from process_spark.queries import REGISTRY

    sql = REGISTRY["nmea_pipeline_sail_summary"].oracle
    return [_summary_key(r) for r in duckdb.sql(sql).fetchall()]


def _ts(v) -> str:
    return str(v).replace("T", " ")[:19]


def _summary_key(r) -> tuple:
    return (
        _ts(r[0]), int(r[1]), _ts(r[2]), _ts(r[3]), int(r[4]),
        float(r[5]), float(r[6]), float(r[7]), int(r[8]),
    )


def _read_json_dir(path: str) -> list[dict]:
    rows = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name)) as f:
                rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def check_daylog(out_dir: str, days: list[dict], golden: list[tuple]) -> list[str]:
    """Problems with one CLI pass's outputs over the days generated
    with ``days`` (``inputs.day_params``); empty when correct."""
    import datetime as dt

    import inputs

    problems = []
    try:
        summary = _read_json_dir(os.path.join(out_dir, "summary.json"))
        for doc in ("races.json", "maneuvers.json"):
            if not _read_json_dir(os.path.join(out_dir, doc)):
                problems.append(f"{doc} is empty")
    except (OSError, ValueError) as exc:
        return [f"unreadable output: {exc}"]
    cols = ("day", "session_id", "session_start", "session_end", "n_seconds",
            "avg_speed", "avg_vmg", "max_tws", "n_maneuvers")
    rows = [_summary_key([r.get(c) for c in cols]) for r in summary]
    for i, kw in enumerate(days):
        day = (inputs.FIXTURE_DATE + dt.timedelta(days=i)).isoformat()
        got = sorted(r for r in rows if r[0].startswith(day))
        if len(got) != 2:
            problems.append(f"{day}: {len(got)} races, expected 2")
            continue
        gap = kw.get("gap_start", 3600)
        want = sorted([gap, inputs.ACTIVE_SECONDS - gap])
        if sorted(r[4] for r in got) != want:
            problems.append(f"{day}: n_seconds {[r[4] for r in got]} != {want}")
        if not kw and got != golden:
            problems.append(f"{day}: summary {got} != golden {golden}")
    if len(rows) != 2 * len(days):
        problems.append(f"{len(rows)} summary rows, expected {2 * len(days)}")
    return problems


class _Marks:
    """Wraps the CLI's layer calls to note (label, time, next job id)."""

    def __init__(self, windows):
        self.windows = windows
        self.marks: list[tuple[str, float, int]] = []

    def note(self, label: str) -> None:
        self.marks.append((label, time.perf_counter(), self.windows.next_job_id()))

    def wrap(self, label: str, fn):
        def wrapped(*a, **kw):
            self.note(f"{label}>")
            try:
                return fn(*a, **kw)
            finally:
                self.note(f"{label}<")

        return wrapped


@contextlib.contextmanager
def _patched(pairs):
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in pairs]
    for mod, name, fn in pairs:
        setattr(mod, name, fn)
    try:
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def _daylog_layers(marks: list, end_t: float, end_job: int, stats: dict,
                   spans) -> dict:
    """Step spans and per-layer values from one traced, successful CLI
    pass."""
    pos = {lab: (t, j) for lab, t, j in marks if lab != "json>" and lab != "json<"}
    json_calls = [(a, b) for a, b in zip(
        [m for m in marks if m[0] == "json>"], [m for m in marks if m[0] == "json<"])]
    start_t, start_j = pos["cli>"][:2]
    split_t = pos["split>"][0]
    build_t0, build_j0 = pos["pipeline>"]
    build_t1, build_j1 = pos["pipeline<"]
    first_json_t = json_calls[0][0][1]
    last_json_t = json_calls[-1][1][1]
    spans.add("read", start_t, split_t)
    spans.add("pipeline_build", build_t0, build_t1, eager_jobs=build_j1 - build_j0)
    spans.add("series_write", build_t1, first_json_t)
    for (_, t0, j0), (_, t1, j1) in json_calls:
        spans.add("json_write", t0, t1, jobs=j1 - j0)
    spans.add("finish", last_json_t, end_t)
    pass_s = end_t - start_t
    build_s = build_t1 - build_t0
    out = spark_layer(stats)
    out.update({
        "sources.read_s": split_t - start_t,
        "queries.nmea.pipeline_build_s": build_s,
        "queries.nmea.pipeline_eager_jobs": build_j1 - build_j0,
        "cli.series_write_s": first_json_t - build_t1,
        "sources.json_write_s": sum(b[1] - a[1] for a, b in json_calls),
        "queries.build_s": build_s,
        "queries.eager_jobs": build_j1 - build_j0,
        "spark.action_s": pass_s - build_s,
    })
    jobs = end_job - start_j
    out["queries.eager_job_share"] = (build_j1 - build_j0) / jobs if jobs else 0
    return out


def daylog_process(run: Run) -> dict:
    import inputs

    import process_spark.functions.nmea as fnmea
    import process_spark.queries.nmea as qnmea
    import process_spark.sources.io as sio
    from process_spark import cli

    in_dir = os.path.join(WORK, "daylogs")
    out_dir = os.path.join(WORK, "daylog_out")
    gen = []
    for _ in range(GEN_REPS):
        shutil.rmtree(in_dir, ignore_errors=True)
        with run.spans.span("inputs.gen") as rec:
            inputs.write_day_logs(in_dir, run.args.seed)
        gen.append(rec["end"] - rec["start"])
    run.layer["inputs.gen_s"] = statistics.median(gen)
    days = inputs.day_params(run.args.seed)
    golden = _golden_rows()

    def one_pass(k, _order, traced):
        marks = _Marks(run.windows) if traced else None
        patches = []
        if traced:
            patches = [
                (fnmea, "split_capture_prefix",
                 marks.wrap("split", fnmea.split_capture_prefix)),
                (qnmea, "pipeline_from_log",
                 marks.wrap("pipeline", qnmea.pipeline_from_log)),
                (sio, "write_json_docs", marks.wrap("json", sio.write_json_docs)),
            ]
        run.attempted += 1
        rc, err = None, None
        with run.spans.span("step", op="cli.main"), _patched(patches):
            if traced:
                marks.note("cli>")
            t0 = time.perf_counter()
            try:
                with contextlib.redirect_stdout(io.StringIO()):
                    rc = cli.main(["process", in_dir, "--out", out_dir])
            except Exception as exc:  # counted, the loop goes on
                err = f"{type(exc).__name__}: {exc}"
            t1 = time.perf_counter()
            end_job = run.windows.next_job_id() if traced else 0
        problems = [err] if err else ([] if rc == 0 else [f"exit code {rc}"])
        if not problems:
            problems = check_daylog(out_dir, days, golden)
        if problems:
            run.fail(f"pass {k}: {'; '.join(problems)}")
        layer = {}
        if traced and not problems:
            start_j = marks.marks[0][2]
            stats = run.windows.stats(start_j, end_job)
            layer = _daylog_layers(marks.marks, t1, end_job, stats, run.spans)
        return t1 - t0, [t1 - t0], layer

    return measure(run, one_pass)


# --- llm_pipeline -----------------------------------------------------------

def result_digest(pdf) -> str:
    """sha256 over the result in the oracle's canonical form (sorted
    columns, type-tagged cells, order-insensitive rows)."""
    from process_spark.oracle import _canon_frame

    canon = (sorted(pdf.columns), _canon_frame(pdf))
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def load_pins() -> dict:
    with open(os.path.join(HERE, "digests.json")) as f:
        return json.load(f)["queries"]


def llm_pipeline(run: Run) -> dict:
    import inputs
    from layers import add_stats

    from process_spark.queries import REGISTRY

    data_dir = os.path.join(WORK, "corpus")
    gen = []
    for _ in range(GEN_REPS):
        shutil.rmtree(data_dir, ignore_errors=True)
        with run.spans.span("inputs.gen") as rec:
            inputs.write_corpus(data_dir)
        gen.append(rec["end"] - rec["start"])
    run.layer["inputs.gen_s"] = statistics.median(gen)
    pins = load_pins()
    orders = inputs.pass_orders(list(LLM_QUERIES), run.args.seed, MAX_PASSES + 1)
    spark, windows = run.spark, run.windows

    def one_pass(k, order, traced):
        lat, layer, total = [], {}, {}
        for name in order:
            run.attempted += 1
            pdf, err = None, None
            with run.spans.span("query", query=name):
                j0 = windows.next_job_id() if traced else 0
                t0 = time.perf_counter()
                t1 = t2 = None
                try:
                    with run.spans.span("build"):
                        df = REGISTRY[name].fn(spark, data_dir)
                    t1 = time.perf_counter()
                    j1 = windows.next_job_id() if traced else 0
                    with run.spans.span("action"):
                        pdf = df.toPandas()
                    t2 = time.perf_counter()
                except Exception as exc:  # counted, the loop goes on
                    err = f"{type(exc).__name__}: {exc}"
                end = time.perf_counter()
                j2 = windows.next_job_id() if traced else 0
            lat.append(end - t0)
            if err is None:
                got = result_digest(pdf)
                if got != pins[name]["digest"]:
                    err = f"digest {got[:12]} != pinned {pins[name]['digest'][:12]}"
            if err:
                run.fail(f"pass {k} {name}: {err}")
            if traced and t2 is not None:
                layer[f"queries.build_s.{name}"] = t1 - t0
                layer[f"spark.action_s.{name}"] = t2 - t1
                layer[f"queries.eager_jobs.{name}"] = j1 - j0
                add_stats(total, windows.stats(j0, j2))
        if traced:
            layer.update(spark_layer(total))
            layer["queries.build_s"] = sum(
                layer.get(f"queries.build_s.{q}", 0) for q in order)
            layer["spark.action_s"] = sum(
                layer.get(f"spark.action_s.{q}", 0) for q in order)
            eager = sum(layer.get(f"queries.eager_jobs.{q}", 0) for q in order)
            layer["queries.eager_jobs"] = eager
            jobs = total.get("jobs", 0)
            layer["queries.eager_job_share"] = eager / jobs if jobs else 0
        return sum(lat), lat, layer

    return measure(run, one_pass, orders)


WORKLOADS = {"daylog_process": daylog_process, "llm_pipeline": llm_pipeline}


# --- driver -----------------------------------------------------------------

def _prepare_env(cores: int) -> None:
    """Keep Spark's scratch files inside the checkout and pin cores."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    import tempfile

    tempfile.tempdir = tmp


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "process_spark")):
        print(f"error: no process_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    _prepare_env(cores)

    from layers import JobWindows, Spans, jvm_pid, stop_session, vm_hwm_mb

    from process_spark.session import get_spark

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    spans = Spans(run_id)
    with spans.span("run", workload=args.workload, seed=args.seed):
        t0 = time.perf_counter()
        with spans.span("session.start"):
            spark = get_spark("process-spark-benchmark")
            spark.range(1).count()
        session_s = time.perf_counter() - t0
        try:
            run = Run(spark, args, JobWindows(spark) if args.trace else None, spans)
            run.layer["session.start_s"] = session_s
            res = WORKLOADS[args.workload](run)
            rss = vm_hwm_mb() + vm_hwm_mb(jvm_pid(spark))
        finally:
            stop_session(spark)

    setup_s = session_s + run.layer["inputs.gen_s"]
    ops = res["ops"]
    tail_v, tail_pct = tail(ops)
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(res["plain"]),
        "query_s_p50": statistics.median(ops),
        "query_s_tail": tail_v,
    }
    samples = {"setup_s": 1, "pass_s": len(res["plain"]), "query_s_p50": len(ops),
               "query_s_tail": len(ops)}
    layer = {k: 0.0 for k in PER_LAYER}
    layer.update(median_layers(res["layers"]))
    layer.update(run.layer)
    layer["pass.cold_s"] = res["cold"]
    layer["peak_rss_mb"] = rss
    if res["traced"]:
        layer["trace.overhead_s"] = (
            statistics.median(res["traced"]) - statistics.median(res["plain"]))

    print(f"# {args.workload} seed={args.seed} cores={cores} "
          f"passes={len(res['plain'])} traced={len(res['traced'])} "
          f"attempted={run.attempted} failed={run.failed} "
          f"failed_frac={run.failed / max(run.attempted, 1):.4f}",
          file=sys.stderr)
    t_run = spans.records[0]["start"]
    for rec in spans.records:
        if rec["name"] in ("session.start", "inputs.gen", "pass"):
            print(f"#   {rec['name']}{rec.get('index', '')} at "
                  f"{rec['start'] - t_run:.1f}s took {rec['end'] - rec['start']:.2f}s",
                  file=sys.stderr)
    print(f"#   run took {time.perf_counter() - t_run:.1f}s", file=sys.stderr)
    for f in run.failures:
        print(f"# FAILED {f}", file=sys.stderr)
    for k, v in e2e.items():
        extra = f" (p{tail_pct})" if k == "query_s_tail" else ""
        print(f"#   {k} = {_fmt(v)} {END_TO_END[k]}  n={samples[k]}{extra}",
              file=sys.stderr)
    if args.trace:
        for k in PER_LAYER:
            print(f"#   {k} = {_fmt(layer[k])} {PER_LAYER[k]}", file=sys.stderr)
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{run_id}.jsonl"), "w") as f:
            for rec in spans.records:
                f.write(json.dumps(rec) + "\n")

    if args.trace:
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
