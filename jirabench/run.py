"""Jira ingest and query-batch benchmark.

    python3 jirabench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (jirabench/build.py), makes the workload's
inputs from the seed, runs the harness JVM (jirabench/scala) for whole
rounds of the workload's operations until --seconds are spent, checks every
output against a computation made apart from the engine (jirabench/check.py)
and prints one JSON line: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. See jirabench/README.md.
"""
import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

CORES = 4
SHUFFLE = 8
JVM_TIMEOUT_S = 170
# One untimed round pays codegen, JIT and memo builds; the first timed
# rounds still run somewhat faster each time, so every run times at least
# two whole rounds and the round count does not swing the median.
WARM_ROUNDS = 1
MIN_ROUNDS = 2

WORKLOADS = {
    # not in BENCHMARK.json: its spread stayed wider than any allowed bound
    "queries-staged": {"kind": "queries", "sf": 0.01,
                       "names": ["q165", "q169", "q213"]},
    "queries-relational": {"kind": "queries", "sf": 0.01,
                           "names": ["q01", "q03", "q118", "q134", "q135", "q136"]},
    "ingest-lake": {"kind": "lake", "sizes": {"issues": 6000, "worklogs": 12000,
                                              "users": 600},
                    "days": 2, "update_share": 0.1, "new_share": 0.05,
                    "page_size": {"issues": 100, "worklogs": 1000}},
    "ingest-api": {"kind": "api", "sizes": {"issues": 3000, "worklogs": 6000,
                                            "users": 500},
                   "days": 2, "update_share": 0.8, "new_share": 0.1,
                   "page_size": {"issues": 100, "worklogs": 200},
                   "throttled_share": 0.03},
}

END_TO_END = {"setup_s": "s", "run_s": "s", "op_p50_s": "s"}
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "operators.cuts": "count", "operators.cuts_left": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_cpu_s": "s", "exec.cpu_util": "ratio",
    "exec.shuffle_write_bytes": "bytes", "exec.gc_ms": "ms",
    "sources.jira.pages": "count", "sources.jira.records": "count",
    "sources.jira.bytes": "bytes", "sources.jira.scan_s": "s",
    "sources.jira.retries": "count",
    "etl.read_s": "s", "etl.flatten_s": "s",
    "operators.upsert_s": "s", "sources.parquet_write_s": "s",
    "etl.write_amplification": "ratio",
    "sources.jdbc_upsert_s": "s", "sources.jdbc_rows": "count",
    "server.requests": "count", "server.injected_429": "count",
}


def jvm_command(classes, spec_path, result_path, work):
    jars = os.path.join(build.spark_jars(), "*")
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"), jars])
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Duser.timezone=UTC", "-Dsun.net.httpserver.nodelay=true",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", cp, "jirabench.Main", spec_path, result_path]
    return cmd


def prepare(name, cfg, seed, work):
    """Make the workload's inputs; return (spec part, model for checks)."""
    if cfg["kind"] == "queries":
        data = os.path.join(work, "data")
        gen.tables(data, seed, cfg["sf"])
        return {"queries": {"data": data, "names": cfg["names"]}}, {"data": data}
    per_day = gen.jira(seed, cfg["sizes"], cfg["days"], cfg["update_share"],
                       cfg["new_share"])
    arriving = [{e: len(per_day[e][d]) for e in per_day} for d in range(cfg["days"])]
    model = {"per_day": per_day}
    pages_dir = os.path.join(work, "pages")
    os.makedirs(pages_dir)
    if cfg["kind"] == "lake":
        days = []
        for d in range(cfg["days"]):
            day = {}
            for e in ("issues", "worklogs", "users"):
                paths = []
                for pname, body in gen.pages(e, per_day[e][d],
                                             cfg["page_size"].get(e, 0)):
                    p = os.path.join(pages_dir, f"{e}-d{d + 1}-{pname}.json")
                    with open(p, "w") as fh:
                        fh.write(body)
                    paths.append(p)
                day[e] = paths
            days.append(day)
        return {"ingest": {"days": days, "arriving": arriving}}, model
    # api: the server maps each address to a page file
    import numpy as np
    addresses, seeds, templates, expected = {}, [], [], {}
    for d in range(cfg["days"]):
        seed_of = {}
        for e in ("issues", "worklogs", "users"):
            if e == "issues":
                prefix = f"/rest/api/3/search/d{d + 1}?startAt="
            elif e == "worklogs":
                prefix = f"/tempo/4/worklogs/d{d + 1}/"
            else:
                prefix = f"/rest/api/3/users/d{d + 1}"
            got = []
            for pname, body in gen.pages(e, per_day[e][d],
                                         cfg["page_size"].get(e, 0)):
                addr = prefix if e == "users" else prefix + pname
                p = os.path.join(pages_dir, f"{e}-d{d + 1}-{pname}.json")
                with open(p, "w") as fh:
                    fh.write(body)
                addresses[addr] = p
                got.append(addr)
            seed_of[e] = got[0]
            expected[(e, d)] = got
        seeds.append(seed_of)
        templates.append(f"/rest/api/3/search/d{d + 1}?startAt={{startAt}}")
    rng = np.random.default_rng([seed, 3])
    all_addr = sorted(addresses)
    throttled = sorted(rng.choice(all_addr, max(1, int(len(all_addr) * cfg["throttled_share"])),
                                  replace=False).tolist())
    model.update(expected=expected, throttled=set(throttled))
    return {"api": {"pages": addresses, "days": seeds, "templates": templates,
                    "throttled": throttled, "arriving": arriving}}, model


def metrics(result, setup_s, trace):
    rounds = result["rounds"]
    if not trace:
        ops = [op["s"] for r in rounds for op in r["ops"]]
        return {"setup_s": setup_s,
                "run_s": statistics.median(r["wall_s"] for r in rounds),
                "op_p50_s": statistics.median(ops)}
    return {k: statistics.median(r["layers"].get(k, 0.0) for r in rounds)
            for k in PER_LAYER}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one row of one output before checking "
                         "(shows that the checks catch it)")
    a = ap.parse_args()

    t_build = time.time()
    classes = build.build()
    build_s = time.time() - t_build

    cfg = WORKLOADS[a.workload]
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        part, model = prepare(a.workload, cfg, a.seed, work)
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        spec = {"workload": a.workload, "seconds": a.seconds, "trace": bool(a.trace),
                "cores": CORES, "shuffle": SHUFFLE, "work": work,
                "warm_rounds": WARM_ROUNDS, "min_rounds": MIN_ROUNDS,
                "spans": os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.jsonl"),
                **part}
        spec_path = os.path.join(work, "spec.json")
        result_path = os.path.join(work, "result.json")
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(jvm_command(classes, spec_path, result_path, work),
                                    stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:  # also on SIGTERM: never leave the JVM behind
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.exists(result_path):
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise SystemExit(f"harness JVM failed ({rc})")
        with open(result_path) as fh:
            result = json.load(fh)
        setup_s = result["setup_end_us"] / 1e6 - T_START - build_s
        errors = check.run(cfg["kind"], result, model, a.corrupt)
        for e in errors:
            sys.stderr.write(f"[check] {e}\n")
        attempted = sum(len(r["ops"]) for r in result["rounds"])
        m = metrics(result, setup_s, a.trace)
        units = PER_LAYER if a.trace else END_TO_END
        print(json.dumps({
            "correct": not errors, "attempted": attempted, "failed": 0,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in m.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
