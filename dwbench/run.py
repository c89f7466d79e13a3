#!/usr/bin/env python3
"""End-to-end benchmark of the warehouse library.

    python3 dwbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 dwbench/run.py --smoke

Each run builds the library if its sources changed, generates the
workload's inputs from the seed, drives the workload in a fresh JVM through
the library's public functions, checks the outputs against DuckDB running
the repository's oracle SQL, and prints one JSON object as the last line of
standard output. `--trace 1` instead runs every workload briefly with layer
spans and prints the per-layer metrics. `--smoke` runs every workload on
small inputs with every check on, plus a check that a perturbed result is
caught; it exits non-zero on any failure. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["pipeline", "dashboard", "ingest", "curate"]
HEAP = "3g"
# what the runner JVM may take beyond --seconds: JVM and session start, the
# build a workload serves from, warm-up, the last operation started before
# the deadline and the in-JVM checks; the oracle checks follow it
ALLOWANCE_S = 150
# input sizes and untimed warm-up operations per workload; see README.md
# for why the listed workloads are timed without warm-up
SIZES = {
    "bench": {
        "pipeline": {"orders": 6000, "warmup": 0},
        "dashboard": {"orders": 15000, "warmup": 0},
        "ingest": {"orders": 8000, "drops": 8, "warmup": 2},
        "curate": {"docs": 4000, "shard_docs": 1000, "shards": 6, "warmup": 1},
    },
    # traced runs: every workload, briefly, in one JVM
    "trace": {
        "pipeline": {"orders": 6000, "warmup": 0},
        "dashboard": {"orders": 15000, "warmup": 0},
        "ingest": {"orders": 8000, "drops": 3, "warmup": 3},
        "curate": {"docs": 1500, "shard_docs": 400, "shards": 3, "warmup": 1},
    },
    "smoke": {
        "pipeline": {"orders": 1500, "warmup": 0},
        "dashboard": {"orders": 1500, "warmup": 0},
        "ingest": {"orders": 1500, "drops": 3, "warmup": 1},
        "curate": {"docs": 500, "shard_docs": 150, "shards": 4, "warmup": 0},
    },
}
# workloads whose traced run pairs traced operations with untraced twins
# after warm-up: the pipeline's traced round is the first in its JVM, like
# its timed round, and its untraced round the second; a refresh is too long
# to repeat in the traced run's time
OVERHEAD_PAIRED = ("ingest", "curate")
END_TO_END = [("setup_s", "s"), ("op_s", "s"), ("cache_mb", "MB")]
COUNTERS = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("input_rows", "count"), ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
            ("output_mb", "MB"), ("task_run_ms", "ms"),
            ("task_cpu_ms", "ms"), ("gc_ms", "ms")]


def per_layer_names():
    layers = {"pipeline": ["etl.staging_ms", "etl.build_ms", "etl.errors_ms", "etl.validate_ms",
                           "sources.star_write_ms", "sources.raw_copy_ms"],
              "dashboard": ["sources.prepare_ms", "sources.prepared_run_ms", "measures.plan_ms",
                            "measures.exec_ms", "olap.plan_ms", "olap.exec_ms"],
              "ingest": ["streaming.batch_ms", "streaming.merge_ms", "streaming.plan_ms",
                         "streaming.list_ms", "streaming.summary_rewrite_mb",
                         "streaming.summary_read_ms"],
              "curate": ["llm.dedup_ms", "llm.quality_ms", "llm.decode_ms", "llm.cache_growth_mb"]}
    names = []
    for wl in WORKLOADS:
        names += [(n, "MB" if n.endswith("_mb") else "ms") for n in layers[wl]]
    for wl in WORKLOADS:
        # spill stays 0 at these input sizes (not listed); a dashboard
        # refresh and a curated shard write nothing
        names += [(f"spark.{wl}.{c}", u) for c, u in COUNTERS
                  if not (c == "output_mb" and wl in ("dashboard", "curate"))]
        names.append((f"{wl}.uncovered_ms", "ms"))
        if wl in OVERHEAD_PAIRED:
            names.append((f"{wl}.trace_overhead_ms", "ms"))
    return names


def log(msg):
    print(f"dwbench: {msg}", file=sys.stderr, flush=True)


med = statistics.median


# ------------------------------------------------------------------ inputs

def make_inputs(workloads, seed, sizes, work):
    """Generate every input the listed workloads read; return the runner
    parameters that point at them."""
    params, info = {}, {}
    for wl in workloads:
        z = sizes[wl]
        raw = f"{work}/{wl}/raw"
        if wl == "curate":
            # tiny raw tables: only the oracle's shared prelude binds them
            gen.raw_tables(raw, seed, 50)
            shards = gen.document_shards(f"{work}/{wl}/shards", seed, z["docs"],
                                         z["shard_docs"], z["shards"])
            params["curate.shards"] = ",".join(shards)
            params["curate.shard_docs"] = z["shard_docs"]
            info[wl] = {"documents": z["docs"], "shards": z["shards"],
                        "shard_docs": z["shard_docs"]}
        else:
            counts = gen.raw_tables(raw, seed, z["orders"])
            params[f"{wl}.staged_rows"] = counts["lineitem"]
            info[wl] = dict(counts)
        params[f"{wl}.raw_dir"] = raw
        params[f"{wl}.warmup"] = z["warmup"]
        if wl == "ingest":
            sizes_ = gen.staged_sales_drops(raw, f"{work}/{wl}/drops", seed, z["drops"])
            params["ingest.drops"] = ",".join(
                f"{work}/{wl}/drops/drop_{d:03d}.parquet" for d in range(z["drops"]))
            params["ingest.drop_rows"] = ",".join(map(str, sizes_))
            info[wl]["drop_rows"] = sizes_
        if wl == "dashboard":
            sl = gen.slicers(seed)
            params.update({f"dashboard.{k}": v for k, v in sl.items()})
            info[wl]["slicers"] = sl
    return params, info


# ------------------------------------------------------------------- a run

def launch(classpath, params_path, work, timeout):
    cmd = build.java_command(classpath, HEAP, "dwbench.Runner", params_path)
    cmd.insert(1, f"-Djava.io.tmpdir={work}/tmp")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"the runner did not finish within {timeout:.0f} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(f"{work}/jvm.log", errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"the runner exited with {rc}:\n{tail}")
    with open(f"{work}/result.json") as f:
        return json.load(f)


def span_tree_ok(spans):
    """Every span lies inside its parent and belongs to its parent's
    operation; roots are operation spans."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] < 0:
            if not s["name"].startswith("op."):
                return False, f"layer span {s['name']} has no operation span"
            continue
        p = by_id.get(s["parent"])
        if p is None or p["op"] != s["op"] or s["start_ns"] < p["start_ns"] or s["end_ns"] > p["end_ns"]:
            return False, f"span {s['name']} does not nest in its parent"
    return True, f"{len(spans)} spans nest"


def trace_metrics(res):
    """Per-layer metrics of a traced run: the median over traced
    operations of each layer's self time, engine counters per untraced
    operation, time no layer span covers, and tracing overhead."""
    ops, spans = res["ops"], res["spans"]
    values = {}
    for v in res["values"]:
        values.setdefault(v["name"], []).append(v["value"])
    lat = {}
    for l in res["latencies"]:
        lat.setdefault(l["kind"], []).append(l["ms"])
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e6 for s in spans}
    self_ms = {s["id"]: dur[s["id"]] - sum(dur[c["id"]] for c in children.get(s["id"], []))
               for s in spans}
    per_op = {}
    for s in spans:
        if not s["name"].startswith("op."):
            d = per_op.setdefault(s["op"], {})
            d[s["name"]] = d.get(s["name"], 0.0) + self_ms[s["id"]]
    m = {}

    def layer(name, xs):
        if xs:
            m[name] = med(xs)

    for name, unit in per_layer_names():
        key = name.rsplit("_", 1)[0]  # the span name
        if name.split(".")[0] in ("etl", "sources", "measures", "olap", "streaming", "llm"):
            layer(name, [d[key] for d in per_op.values() if key in d])
    layer("sources.prepare_ms", lat.get("prepare"))
    layer("streaming.summary_read_ms", lat.get("summary_read"))
    for k in ["streaming.batch_ms", "streaming.merge_ms", "streaming.plan_ms",
              "streaming.list_ms", "streaming.summary_rewrite_mb", "llm.cache_growth_mb"]:
        layer(k, values.get(k))
    ends = {v["name"]: v["value"] for v in res["values"]}
    for wl in WORKLOADS:
        mine = ops[int(ends[f"{wl}.ops_start"]):int(ends[f"{wl}.ops_end"])]
        # counters of untraced operations where there are any
        plain = [o for o in mine if o["ok"] and not o["traced"]] or [o for o in mine if o["ok"]]
        for c, unit in COUNTERS:
            raw_name = c.replace("_mb", "_bytes")
            scale = 1048576.0 if unit == "MB" else 1.0
            layer(f"spark.{wl}.{c}", [o["counters"][raw_name] / scale for o in plain])
        roots = {s["op"]: s for s in spans if s["parent"] < 0}
        unc = []
        for o in mine:
            r = roots.get(o["id"])
            if r is not None:
                unc.append(dur[r["id"]] - sum(dur[c["id"]] for c in children.get(r["id"], [])))
        layer(f"{wl}.uncovered_ms", unc)
        if wl in OVERHEAD_PAIRED:
            # the k-th traced operation against the k-th untraced one
            traced = [o for o in mine if o["traced"]]
            untraced = [o for o in mine if not o["traced"]]
            layer(f"{wl}.trace_overhead_ms", [t["ms"] - u["ms"] for t, u in zip(traced, untraced)
                                              if t["ok"] and u["ok"]])
    return m


def bench_metrics(res, wl, t0):
    """End-to-end metrics of a timed run, plus the workload's own figures
    (`detail`) under the names the README uses."""
    ok = [o for o in res["ops"] if o["ok"]]
    if not ok:
        raise RuntimeError("no timed operation succeeded")
    ms = {}
    for o in ok:
        ms.setdefault(o["kind"], []).append(o["ms"])
    lat = {}
    for l in res["latencies"]:
        lat.setdefault(l["kind"], []).append(l["ms"])
    vals = {}
    for v in res["values"]:
        vals.setdefault(v["name"], []).append(v["value"])
    detail = {}
    if wl == "pipeline":
        detail = {"etl_s": med(ms.get("etl", [])) / 1000, "elt_s": med(ms.get("elt", [])) / 1000,
                  "star_mb": vals["etl.star_mb"][-1]}
        op_s = detail["etl_s"] + detail["elt_s"]
    else:
        op_s = med([o["ms"] for o in ok]) / 1000
        if wl == "dashboard":
            detail = {"refresh_s": op_s, "prepared_read_ms": med(lat["prepared_read"])}
        elif wl == "ingest":
            detail = {"freshness_ms": op_s * 1000,
                      "ingest_rows_per_s": sum(o["rows"] for o in ok) / (sum(o["ms"] for o in ok) / 1000),
                      "summary_read_ms": med(lat["summary_read"])}
        else:
            detail = {"curate_pass_s": op_s}
    metrics = {"setup_s": res["first_op_ms"] / 1000.0 - t0, "op_s": op_s,
               "cache_mb": vals["cache_mb"][-1]}
    counters = {}
    for o in ok:
        for k, v in o["counters"].items():
            counters.setdefault(f"{o['kind']}.{k}", []).append(v)
    detail["counters_median"] = {k: med(v) for k, v in sorted(counters.items())}
    return metrics, detail


def run(workload, seed, seconds, trace, sizes, keep=False):
    """One benchmark run; returns (result line, detail)."""
    load = os.getloadavg()
    classpath = build.build()
    t0 = time.time()
    workloads = WORKLOADS if trace else [workload]
    work = os.path.join(build.BUILD, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        params, info = make_inputs(workloads, seed, sizes, work)
        cores = len(os.sched_getaffinity(0))
        common = {"work_dir": work, "seconds": seconds, "trace": int(trace), "cores": cores,
                  "workload": workload, "workloads": ",".join(workloads)}
        with open(f"{work}/params.properties", "w") as f:
            f.writelines(f"{k}={v}\n" for k, v in {**common, **params}.items())
        limit = seconds + ALLOWANCE_S - (time.time() - t0)
        res = launch(classpath, f"{work}/params.properties", work, max(30, limit))
        attempted = len(res["ops"])
        failed = sum(1 for o in res["ops"] if not o["ok"])
        problems = [f"{p['name']}: {p['detail']}" for p in res["properties"] if not p["ok"]]
        passed = 0
        if res["checks"]:
            import oracle
            sl = info.get("dashboard", {}).get("slicers")
            passed, fails = oracle.run_checks(res["checks"], res["oracle_sql"],
                                              params[f"{workload}.raw_dir"], sl)
            problems += fails
        if trace:
            ok_tree, why = span_tree_ok(res["spans"])
            if not ok_tree:
                problems.append(why)
            metrics = trace_metrics(res)
            units = dict(per_layer_names())
            missing = [n for n in units if n not in metrics]
            if missing:
                problems.append(f"no value for {', '.join(missing)}")
            out_metrics = {n: {"value": metrics[n], "unit": units[n]}
                           for n in units if n in metrics}
            detail = {"spans": why}
        else:
            metrics, detail = bench_metrics(res, workload, t0)
            out_metrics = {n: {"value": metrics[n], "unit": u} for n, u in END_TO_END}
        detail.update({
            "workload": workload, "seed": seed, "attempted": attempted, "failed": failed,
            "checks_passed": passed, "problems": problems, "inputs": info,
            "nproc": cores, "heap_mb": res["heap_mb"], "java": res["java"], "spark": res["spark"],
            "session": f"local[{cores}], shuffle partitions {cores}, UTC, UI off",
            "loadavg_at_start": load[0],
            "warmup_ms": [round(w["ms"], 1) for w in res["warmup"]],
            "op_ms": [round(o["ms"], 1) for o in res["ops"]],
        })
        line = {"correct": not problems and attempted > 0, "attempted": attempted,
                "failed": failed, "metrics": out_metrics}
        return line, detail
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)


def print_result(line, detail):
    d = detail
    print(f"dwbench {d['workload']} seed {d['seed']}: attempted {d['attempted']}, "
          f"failed {d['failed']}, nproc {d['nproc']}, heap {d['heap_mb']} MB, "
          f"java {d['java']}, spark {d['spark']}, load average at start {d['loadavg_at_start']:.2f}")
    for k, v in d.items():
        if k.endswith(("_s", "_ms", "_mb", "_per_s")) and k != "heap_mb" and isinstance(v, (int, float)):
            print(f"  {k} = {v:.4f}")
    for name, mv in line["metrics"].items():
        print(f"  {name} = {mv['value']} {mv['unit']}")
    for p in d["problems"]:
        print(f"  PROBLEM {p}")
    print(json.dumps(line))


# ------------------------------------------------------------------- smoke

def smoke():
    """Every workload on small inputs, every check on; a perturbed result
    must fail its check. Returns the exit code."""
    import oracle
    bad = 0
    for wl in WORKLOADS:
        line, detail = run(wl, 7, 2, False, SIZES["smoke"], keep=True)
        print_result(line, detail)
        bad += not (line["correct"] and line["failed"] == 0 and detail["checks_passed"] > 0)
        # perturb one value of one checked result: its check must fail
        work = os.path.join(build.BUILD, f"run-{wl}-7-{os.getpid()}")
        with open(f"{work}/result.json") as f:
            res = json.load(f)
        c = res["checks"][-1]
        df = oracle.read_result(c["path"])
        con = oracle.connect(f"{work}/{wl}/raw", c["inputs"] if wl == "curate" else None)
        truth = con.execute(res["oracle_sql"][c["oracle"]]).df()
        col = df.columns[-1]
        v = df.loc[0, col]
        df.loc[0, col] = ("x" + v) if isinstance(v, str) else v + 1
        caught = oracle.compare(df, truth) is not None
        print(f"  perturbed {c['oracle']}.{col} row 0: {'caught' if caught else 'NOT CAUGHT'}")
        shutil.rmtree(work, ignore_errors=True)
        bad += not caught
    line, detail = run("pipeline", 7, 2, True, SIZES["smoke"])
    print_result(line, detail)
    bad += not line["correct"]
    print("dwbench smoke:", "PASS" if bad == 0 else f"FAIL ({bad})")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        return smoke()
    if not a.workload:
        ap.error("--workload is required")
    sizes = SIZES["trace" if a.trace else "bench"]
    line, detail = run(a.workload, a.seed, a.seconds, a.trace == 1, sizes)
    print(json.dumps(detail), file=sys.stderr)
    print_result(line, detail)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line: the run failed
        log(f"run failed: {e}")
        sys.exit(1)
