"""Benchmark of the graft engine: one closed-loop workload per run.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the JVM harness
(perfbench/src) for ``--seconds`` of timed ops, checks every output
(perfbench/checks.py), prints a table of every metric with unit and sample
count, and as the last line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Exits non-zero when a check fails.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

DEFAULT_SEED = 1
SETUP_ROUNDS = 3
WARMUP_S = 15  # untimed ops until this much time has passed after set-up
JVM_HEAP = "2g"
DEADLINE_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, plan, work, budget_s):
    """Run the harness on ``plan``; returns (launch time, result)."""
    plan_path = os.path.join(work, "plan.json")
    result_path = os.path.join(work, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", plan_path, result_path]
    launch = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, budget_s))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness did not finish within {budget_s:.0f} s")
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"harness exited {code}:\n{tail}")
    with open(result_path) as f:
        return launch, json.load(f)


# --- checks ------------------------------------------------------------------

def run_checks(workload, manifest, res, work):
    """(attempted, failed, messages) over every op, the warm-up included."""
    ops = res["ops"]
    per_op = []
    if workload == "etl":
        want = gen.upsert_expected(manifest["upsert"], len(ops))
        for o, w in zip(ops, want):
            per_op.append(checks.check_bulk(o["bulk"], o["export"], manifest["bulk"]) +
                          checks.check_upsert(o["upsert"], w))
    else:
        with open(os.path.join(manifest["dir"], manifest["texts"])) as f:
            texts = json.load(f)
        per_op = [checks.check_dedup(o, manifest, texts) for o in ops]
    if "gate_passes" in res:
        # the untraced gate pass kept every gate's rows; the traced one
        # ends in the noop sink
        with open(os.path.join(HERE, "gates_expected.json")) as f:
            expected = json.load(f)
        ops = ops + [{"i": "gates"}]
        per_op.append(checks.check_gates(os.path.join(work, "gates"), manifest["gates"], expected))
    msgs = [f"op {o['i']}: {m}" for o, fs in zip(ops, per_op) for m in fs]
    return len(ops), sum(1 for fs in per_op if fs), msgs


# --- metrics -----------------------------------------------------------------

def op_items(workload, manifest, o):
    """(items, seconds) one op completed: staged rows committed per second
    of load time (etl), docs per judge+absorb second (dedup)."""
    if workload == "etl":
        d = next(x for x in manifest["upsert"]["deltas"] if x["file"] == o["upsert"]["delta"])
        return (manifest["bulk"]["expected"]["rows"] + d["rows"],
                o["bulk"]["load_s"] + o["upsert"]["load_s"])
    return manifest["batches"][o["batch"]]["docs"], o["wall_s"]


def end_to_end(workload, manifest, ops, setup_s):
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (stats.median([o["wall_s"] for o in ops]), "s"),
        "items_per_s": (stats.median([stats.ratio(*op_items(workload, manifest, o))
                                      for o in ops]), "1/s"),
    }


# the workloads' own names of the end-to-end metrics, printed next to them
ALIASES = {"etl": {"items_per_s": "load_rows_per_s"},
           "dedup_ingest": {"op_p50_s": "batch_p50_s", "items_per_s": "docs_per_s"}}


def report_rows(workload, manifest, ops):
    """The per-part metrics of the etl workload, (name, value, unit), for
    the human-readable table."""
    if workload != "etl":
        return []
    b = [o["bulk"] for o in ops]
    u = [o["upsert"] for o in ops]
    e = [o["export"] for o in ops]
    rows_b = manifest["bulk"]["expected"]["rows"]
    rows_u = [next(d["rows"] for d in manifest["upsert"]["deltas"] if d["file"] == x["delta"])
              for x in u]
    loads_u = [x["load_s"] for x in u]
    tail_p, tail_v = stats.tail(loads_u)
    return [("bulk.load_p50_s", stats.median([x["load_s"] for x in b]), "s"),
            ("bulk.load_rows_per_s", stats.ratio(rows_b * len(b), sum(x["load_s"] for x in b)), "1/s"),
            ("upsert.load_p50_s", stats.median(loads_u), "s"),
            ("upsert.load_rows_per_s", stats.ratio(sum(rows_u), sum(loads_u)), "1/s"),
            (f"upsert.load_tail_s (p{tail_p if tail_p else 100:g})", tail_v, "s"),
            ("export_rows_per_s", stats.ratio(sum(x["rows"] for x in e), sum(x["s"] for x in e)), "1/s")]


class Trace:
    """Per-layer view of a traced run: spans (benchmark-side, around calls
    into the program), and the Spark jobs, stages and SQL executions the
    listener saw while a traced op ran."""

    def __init__(self, res):
        self.spans = res.get("spans", [])
        self.jobs = [j for j in res.get("jobs", []) if "end" in j]
        self.stages = res.get("stages", {})
        self.execs = [e for e in res.get("execs", []) if "end" in e]

    def named(self, op, name):
        return [s for s in self.spans if s["op"] == op and s["name"] == name]

    def jobs_in(self, spans):
        """Jobs submitted inside any of ``spans`` or their descendants."""
        ids, todo = set(), [s["id"] for s in spans]
        while todo:
            i = todo.pop()
            ids.add(i)
            todo += [s["id"] for s in self.spans if s["parent"] == i]
        return [j for j in self.jobs if j["span"] in ids]

    def job_sum(self, jobs, field):
        seen, total = set(), 0
        for j in jobs:
            for st in j["stages"]:
                if st not in seen and str(st) in self.stages:
                    seen.add(st)
                    total += self.stages[str(st)][field]
        return total

    def store(self, load_span):
        """The sink's part of a load span: the SQL executions issued from
        the parquet table sink, as one interval, and their jobs."""
        ex = [e for e in self.execs if "graft.sinks.ParquetTable" in e["site"] and
              e["start"] >= load_span["start"] - 1 and e["end"] <= load_span["end"] + 1]
        if not ex:
            return None, []
        iv = (max(load_span["start"], min(e["start"] for e in ex)),
              min(load_span["end"], max(e["end"] for e in ex)))
        ids = {e["id"] for e in ex}
        return iv, [j for j in self.jobs_in([load_span]) if j["exec"] in ids]

    def self_times(self, op):
        """{span name: self seconds} of one op. A load span's sink interval
        counts as its child, reported as ``<part>.store``."""
        out = {}
        for s in (x for x in self.spans if x["op"] == op):
            kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]]
            if s["name"].endswith(".load"):
                iv, _ = self.store(s)
                if iv:
                    kids.append(iv)
                    name = s["name"][:-len("load")] + "store"
                    out[name] = out.get(name, 0.0) + (iv[1] - iv[0]) / 1e3
            covered = stats.union_length(kids, s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered) / 1e3
        return out


def per_layer(workload, manifest, res, timed, base):
    tr = Trace(res)
    traced = [o for o in timed if o["traced"]]
    plain = [o for o in timed if not o["traced"]]
    ops = [o["i"] for o in traced]
    selfs = {i: tr.self_times(i) for i in ops}
    m = dict(base)

    def put(name, values):
        m[name] = stats.median(values) if values else 0.0

    def dur(spans):
        return sum(s["end"] - s["start"] for s in spans) / 1e3

    def spans(i, *names):
        return [s for n in names for s in tr.named(i, n)]

    def sum_field(i, field, *names):
        return tr.job_sum(tr.jobs_in(spans(i, *names)), field)

    # the layer spans' self times over the op's wall time; the root span's
    # own self time (harness.self_s) is the part no layer accounts for
    put("trace.self_sum_ratio", [stats.ratio(sum(v for k, v in selfs[o["i"]].items() if k != "op"),
                                             o["wall_s"]) for o in traced])
    m["trace.overhead"] = (stats.ratio(stats.median([o["wall_s"] for o in traced]),
                                       stats.median([o["wall_s"] for o in plain])) - 1
                           if traced and plain else 0.0)
    put("harness.self_s", [selfs[i].get("op", 0.0) for i in ops])
    p, v = stats.tail([o["wall_s"] for o in plain]) if plain else (None, 0.0)
    m["op_tail_s"], m["op_tail_pct"] = v, (p if p is not None else 100.0)
    put("spark.jobs", [len(tr.jobs_in(spans(i, "op"))) for i in ops])
    for name, field, scale in (("tasks", "tasks", 1), ("cpu_s", "cpu_ns", 1e-9),
                               ("gc_s", "gc_ms", 1e-3), ("spill_bytes", "spill_bytes", 1)):
        put(f"spark.{name}", [sum_field(i, field, "op") * scale for i in ops])

    # etl: staging, load orchestration, sink, export; parse/coerce probes
    def self_of(i, *names):
        return sum(selfs[i].get(n, 0.0) for n in names)

    put("staging.stage_s", [self_of(i, "bulk.stage", "upsert.stage") for i in ops])
    put("staging.archive_s", [self_of(i, "bulk.archive", "upsert.archive") for i in ops])
    loads = {i: spans(i, "bulk.load", "upsert.load") for i in ops}
    put("load.jobs", [len(tr.jobs_in(loads[i])) for i in ops])
    put("load.driver_s", [dur(loads[i]) - stats.union_length(
        [(j["start"], j["end"]) for j in tr.jobs_in(loads[i])]) / 1e3 for i in ops])
    put("load.self_s", [self_of(i, "bulk.load", "upsert.load") for i in ops])
    put("store.bulk_s", [self_of(i, "bulk.store") for i in ops])
    up_store = {i: [j for s in spans(i, "upsert.load") for j in tr.store(s)[1]] for i in ops}
    put("store.s", [self_of(i, "upsert.store") for i in ops])
    put("store.jobs", [len(up_store[i]) for i in ops])
    put("store.shuffle_bytes", [tr.job_sum(up_store[i], "shuffle_write_bytes") for i in ops])
    put("store.bytes_written", [tr.job_sum(up_store[i], "output_bytes") for i in ops])
    if workload == "etl":
        delta_bytes = {d["file"]: d["bytes"] for d in manifest["upsert"]["deltas"]}
        put("store.write_amp", [stats.ratio(tr.job_sum(up_store[o["i"]], "output_bytes"),
                                            delta_bytes[o["upsert"]["delta"]]) for o in traced])
        put("store.table_files", [o["upsert"]["table_files"] for o in traced])
        put("export.bytes_written", [o["export"]["bytes"] for o in traced])
        put("coerce.error_rows", [o["bulk"]["coerce_error_rows"] for o in traced])
        e = [o["export"] for o in plain]
        m["export.rows_per_s"] = stats.ratio(sum(x["rows"] for x in e), sum(x["s"] for x in e))
        for part in ("bulk", "upsert"):
            put(f"{part}.load_p50_s", [o[part]["load_s"] for o in plain])
    put("export.s", [dur(spans(i, "export")) for i in ops])
    probe = [-1 - i for i in ops]
    put("parse.s", [dur(spans(p, "probe.parse")) for p in probe])
    put("parse.cpu_s", [sum_field(p, "cpu_ns", "probe.parse") / 1e9 for p in probe])
    put("parse.tasks", [sum_field(p, "tasks", "probe.parse") for p in probe])
    put("parse.input_bytes", [sum_field(p, "input_bytes", "probe.parse") for p in probe])
    put("coerce.s", [max(0.0, dur(spans(p, "probe.coerce")) - dur(spans(p, "probe.parse")))
                     for p in probe])
    put("coerce.cpu_s", [max(0.0, sum_field(p, "cpu_ns", "probe.coerce") -
                             sum_field(p, "cpu_ns", "probe.parse")) / 1e9 for p in probe])

    # dedup: judge and absorb
    for layer in ("judge", "absorb"):
        put(f"{layer}.s", [dur(spans(i, layer)) for i in ops])
        put(f"{layer}.jobs", [len(tr.jobs_in(spans(i, layer))) for i in ops])
        for name, field, scale in (("tasks", "tasks", 1), ("cpu_s", "cpu_ns", 1e-9),
                                   ("shuffle_bytes", "shuffle_write_bytes", 1),
                                   ("input_bytes", "input_bytes", 1),
                                   ("bytes_written", "output_bytes", 1)):
            put(f"{layer}.{name}", [sum_field(i, field, layer) * scale for i in ops])
    if workload == "dedup_ingest":
        put("judge.verdicts", [len(o["verdicts"]) for o in traced])
        put("absorb.write_amp", [stats.ratio(sum_field(o["i"], "output_bytes", "absorb"),
                                             manifest["batches"][o["batch"]]["bytes"])
                                 for o in traced])
        put("absorb.store_files", [o["store_files"] for o in traced])
        put("absorb.store_bytes", [o["store_bytes"] for o in traced])

    # gates: the traced pass of a traced dedup run
    warm = next((p for p in res.get("gate_passes", []) if p["traced"]), {})
    gop = warm.get("op")
    if warm:
        m["pass_s"] = warm["wall_s"]
    for g in gen.GATES:
        m[f"gate.{g}.prepare_s"] = warm.get(f"prepare.{g}", 0.0)
        m[f"gate.{g}.exec_s"] = warm.get(f"exec.{g}", 0.0)
        m[f"gate.{g}.cpu_s"] = sum_field(gop, "cpu_ns", f"gate.{g}") / 1e9
        m[f"gate.{g}.shuffle_bytes"] = sum_field(gop, "shuffle_write_bytes", f"gate.{g}")
    return m


# --- main --------------------------------------------------------------------

def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t_build = time.time()
    classpath = build.build()
    work = os.path.join(build.BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_start = os.getloadavg()[0]

    # set-up, part 1: generate the inputs SETUP_ROUNDS times, identically
    gen_times = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.time()
        manifest = gen.GENERATORS[a.workload](os.path.join(work, "input"), a.seed)
        gen_times.append(time.time() - t0)
    plan = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": bool(a.trace), "cores": cores(), "work": work,
            "setup_rounds": SETUP_ROUNDS, "warmup_seconds": WARMUP_S, "input": manifest}
    launch, res = run_jvm(classpath, plan, work, DEADLINE_S - (time.time() - T_START))
    timed = [o for o in res["ops"] if not o["warmup"]]
    plain = [o for o in timed if not o["traced"]]
    attempted, failed, fails = run_checks(a.workload, manifest, res, work)

    # set-up time: process start to a ready session (the build excluded),
    # plus the median generate round and the median build round
    start_s = (t_build - T_START) + (res["ready_ms"] / 1e3 - launch)
    gen_s = stats.median(gen_times)
    build_s = stats.median(res["setup_rounds"])
    e2e = end_to_end(a.workload, manifest, plain, start_s + gen_s + build_s)

    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds:g} trace {a.trace} "
          f"cores {cores()} loadavg_start {load_start:.2f} "
          f"timed_ops {len(timed)} untraced {len(plain)} "
          f"(+{len(res['ops']) - len(timed)} warm-up)")
    aliases = ALIASES[a.workload]
    for name, (v, unit) in e2e.items():
        label = f"{name} ({aliases[name]})" if name in aliases else name
        print(f"  {label:<34} {v:>14.4f} {unit:<5} n={len(plain)}")
    for name, v, unit in report_rows(a.workload, manifest, plain):
        print(f"  {name:<34} {v:>14.4f} {unit:<5} n={len(plain)}")
    error_rate = stats.ratio(failed, attempted)
    print(f"  {'error_rate':<34} {error_rate:>14.4f} {'ratio':<5} n={attempted}")
    units = {x["name"]: x["unit"] for x in spec["per_layer" if a.trace else "end_to_end"]}
    if a.trace:
        base = {"setup.generate_s": gen_s, "setup.build_s": build_s, "setup.start_s": start_s,
                "peak_rss_mb": res["peak_rss_kb"] / 1024.0, "error_rate": error_rate}
        layers = per_layer(a.workload, manifest, res, timed, base)
        n_traced = len(timed) - len(plain)
        for name in units:
            print(f"  {name:<46} {layers.get(name, 0.0):>18.6f} {units[name]:<6} n={n_traced}")
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({k: res.get(k, []) for k in ("spans", "jobs", "stages", "execs")}, f)
        values = {n: layers.get(n, 0.0) for n in units}
    else:
        values = {n: e2e[n][0] for n in units}
    for msg in fails[:20]:
        print(f"CHECK FAILED {msg}")
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()}}))
    return 1 if fails else 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (RuntimeError, OSError) as e:
        print(f"benchmark error: {e}", file=sys.stderr)
        sys.exit(2)
