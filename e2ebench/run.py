#!/usr/bin/env python3
"""End-to-end benchmark of the pdfspark engine.

    python3 e2ebench/run.py --workload pdf_bulk --seed 1 --seconds 14 --trace 0

Run from the repository root. One process runs one workload: it starts a
``local[nproc]`` session on the CPUs this process may use, generates the
seeded inputs, does a fixed warm-up, measures for ``--seconds`` and checks
every output. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
reruns the same work with spans and reports the per-layer metrics. Context
lines start with ``# context``; the last line of stdout is the result.
See README.md in this directory for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

def tail(samples) -> tuple:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; with fewer than eleven samples there is none, and
    the maximum is reported as percentile 100."""
    s = sorted(samples)
    if len(s) >= 11:
        return s[len(s) - 11], round(100.0 * (len(s) - 10) / len(s), 1)
    return s[-1], 100.0


def start_session(work: str, nproc: int):
    from pdfspark.pipeline import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # spark-submit first runs a launcher JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={tmp}")
    return build_session(cores=nproc, app="e2ebench", extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        # the engine's own heap settings; no perf-data file and no temp
        # files outside the checkout
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })


def stop_session(spark, worker_pids) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in worker_pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import pdfspark  # noqa: F401  (fails here when the engine is absent)
    import layers
    from workloads import CURATION as QUERY_NAMES, WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")
    logging.getLogger("py4j").setLevel(logging.ERROR)
    cpus = sorted(os.sched_getaffinity(0))
    nproc = len(cpus)
    load0 = os.getloadavg()
    work = os.path.join(ROOT, ".e2ebench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "nproc": nproc, "cpus": cpus, "client": "closed loop, 1 client",
           "loadavg_start": [round(x, 2) for x in load0]}
    spark = None
    worker_pids: set = set()
    try:
        t0 = time.perf_counter()
        spark = start_session(work, nproc)
        session_s = time.perf_counter() - t0
        jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"),
                                      nproc, args.seed)

        # inputs, three times: the seed, then the seed again, which must
        # give byte-identical files, and the next seed, which must give
        # different ones. Set-up counts the median generation time once.
        digests, gen_times = [], []
        for k, s in enumerate((args.seed, args.seed, args.seed + 1)):
            t1 = time.perf_counter()
            digests.append(wl.generate(s, os.path.join(work, "data",
                                                       f"inputs{k}")))
            gen_times.append(time.perf_counter() - t1)
        gen_s = statistics.median(gen_times)
        seed_ok = digests[0] == digests[1] and digests[0] != digests[2]
        wl.attempted += 1
        wl.fail(int(not seed_ok), "seed self-test")
        shutil.rmtree(os.path.join(work, "data", "inputs1"))
        shutil.rmtree(os.path.join(work, "data", "inputs2"))
        t1 = time.perf_counter()
        warm_s = wl.warm()
        warm_total = time.perf_counter() - t1
        setup_s = session_s + gen_s + warm_total
        ctx.update({"input_digest": digests[0], "seed_selftest": seed_ok,
                    "setup_parts_s": {"session": round(session_s, 3),
                                      "generate": round(gen_s, 3),
                                      "generate_runs": [round(x, 3) for x
                                                        in gen_times],
                                      "warm": round(warm_total, 3)},
                    "warm_reps_s": [round(x, 3) for x in warm_s]})

        tracer = layers.Tracer(f"{args.workload}-{args.seed}")
        reader = layers.StatusReader(spark) if args.trace else None
        calls = []
        groups = []   # (name, Spark job group) of every timed engine call

        def call(name, fn):
            t = time.perf_counter()
            gid = f"e2e-{len(groups)}"
            groups.append((name, gid))
            spark.sparkContext.setJobGroup(gid, name)
            if not args.trace:
                t = time.perf_counter()
                fn()
                return time.perf_counter() - t
            tracer.own_s += time.perf_counter() - t
            layer = "queries" if name in QUERY_NAMES else "pipeline"
            with tracer.span(name, layer) as sp:
                t = time.perf_counter()
                fn()
                wall = time.perf_counter() - t
            t = time.perf_counter()
            calls.append((name, wall, reader.group(gid, tracer, sp.id)))
            tracer.own_s += time.perf_counter() - t
            return wall

        compiles0 = layers.codegen_compiles(spark)
        with layers.RssSampler(jvm_pid, spark.sparkContext._jvm) as rss:
            m0 = time.time()
            samples = wl.measure(args.seconds, call)
            measured_s = time.time() - m0
        compiles = layers.codegen_compiles(spark) - compiles0
        worker_pids = rss.pids
        retained = rss.retained_heap_mb()
        tasks = [d for name, gid in groups if name == "run_pipeline"
                 for d in layers.kernel_task_s(spark.sparkContext, gid)]
        result = end_to_end(wl, samples, tasks, setup_s, rss, retained, ctx)
        if args.trace:
            result = per_layer(wl, samples, calls, tracer, rss, compiles,
                               measured_s, result, nproc, ctx)
            tracer.write(os.path.join(
                ROOT, ".e2ebench", "traces",
                f"{args.workload}-seed{args.seed}.json"))
    finally:
        if spark is not None:
            stop_session(spark, worker_pids)
        shutil.rmtree(work, ignore_errors=True)
    ctx["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    if wl.notes:
        ctx["notes"] = wl.notes
    print("# context " + json.dumps(ctx, sort_keys=True))
    print(json.dumps({"correct": wl.failed == 0, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": result}))
    return 0


def _m(value, unit) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(wl, samples, tasks, setup_s, rss, retained, ctx) -> dict:
    walls = [s["wall"] for s in samples]
    ctx["rep_samples_s"] = [round(x, 4) for x in walls]
    if wl.name == "curation_queries":
        per_query = {}
        for s in samples:
            per_query.setdefault(s["query"], []).append(s["wall"])
        # batch samples are passes over the seven queries: pass k sums
        # each query's k-th timed run
        job_s = sum(statistics.median(v) for v in per_query.values())
        walls = [sum(v[k] for v in per_query.values())
                 for k in range(min(len(v) for v in per_query.values()))]
        output_b = wl.output_b
        ctx["per_query_s"] = {k: [round(x, 4) for x in v]
                              for k, v in per_query.items()}
        ctx["job_s_is"] = "sum over queries of each query's median run"
        ctx["batch_is"] = "one pass over the seven queries"
    else:
        job_s = statistics.median(walls)
        output_b = statistics.median(s["output_b"] for s in samples)
        ctx["job_s_is"] = "median rep wall"
        # batch samples are the kernel-stage tasks of every measured rep:
        # one input split turned into text. A rep-level tail would be the
        # maximum of a handful of reps.
        walls = tasks
        ctx["batch_is"] = "one kernel-stage task (an input split)"
        ctx["batch_samples_s"] = [round(x, 3) for x in tasks]
    bases = wl.bases()
    t, pct = tail(walls)
    ctx["memory_peaks_mb"] = {
        "jvm_rss": round(rss.peak_jvm, 1), "python_rss": round(rss.peak_py, 1),
        "heap_used": round(rss.peak_heap_used, 1),
        "heap_retained": round(retained, 1)}
    ctx.update({
        "batch_tail_percentile": pct, "batch_samples": len(walls),
        "bases": {"docs_per_s": f"{bases['docs']} docs (rows) per job_s",
                  "input_mb_per_s": f"{bases['input_bytes']} input bytes "
                                    "per job_s",
                  "output_mb": "bytes written by the sink per rep"
                  if wl.name != "curation_queries"
                  else "Arrow bytes of the collected query results"}})
    return {
        "setup_s": _m(setup_s, "s"),
        "job_s": _m(job_s, "s"),
        "docs_per_s": _m(bases["docs"] / job_s, "1/s"),
        "input_mb_per_s": _m(bases["input_bytes"] / 1e6 / job_s, "MB/s"),
        "batch_p50_s": _m(statistics.median(walls), "s"),
        "batch_tail_s": _m(t, "s"),
        "py_peak_rss_mb": _m(rss.peak_py, "MB"),
        "heap_retained_mb": _m(retained, "MB"),
        "output_mb": _m(output_b / 1e6, "MB"),
    }


def per_layer(wl, samples, calls, tracer, rss, compiles, measured_s, e2e,
              nproc, ctx) -> dict:
    import layers
    from workloads import CURATION

    med = layers.median
    main = [c for c in calls if c[0] != "resume"]
    pipe = [c for c in main if c[0] == "run_pipeline"]
    # totals are per engine call; on curation_queries per pass over the
    # queries, each query contributing its median
    groups = ([[c for c in main if c[0] == n] for n in CURATION]
              if wl.name == "curation_queries" else [main])

    def total(f) -> float:
        return sum(med([f(c) for c in g]) for g in groups if g)

    def sql(key):
        return lambda c: c[2]["sql"].get(key, 0.0)

    t_replay = time.time()
    kernel, by_kind = layers.kernel_replay(wl.replay_docs(), tracer)
    ctx["replay_s"] = round(time.time() - t_replay, 3)
    spent = sum(by_kind.values())
    ctx["replay_time_share_by_kind"] = {k: round(v / spent, 3)
                                        for k, v in sorted(by_kind.items())}
    out = {k: _m(v, "count" if ".err." in k else
                 ("1/s" if k.endswith("docs_per_s") else
                  ("MB/s" if k.endswith("mb_per_s") else "ms")))
           for k, v in kernel.items()}
    eff = 0.0
    if wl.name != "curation_queries" and kernel["kernel.docs_per_s"]:
        eff = e2e["docs_per_s"]["value"] / (nproc * kernel["kernel.docs_per_s"])
    p50 = [c[2].get("task_p50_s", 0.0) for c in main]
    pmax = [c[2].get("task_max_s", 0.0) for c in main]
    book = [c[1] - c[2]["job_walls"].get(c[2].get("kernel_job"), 0.0)
            for c in pipe]
    out.update({
        "pipeline.spark_jobs": _m(total(lambda c: c[2]["jobs"]), "count"),
        "pipeline.bookkeeping_s": _m(med(book), "s"),
        "pipeline.resume_s": _m(med([s.get("resume_s", 0.0)
                                     for s in samples]), "s"),
        "pipeline.files_written": _m(med([sql("files_written")(c)
                                          for c in pipe]), "count"),
        "pipeline.commit_ms": _m(1000 * med([sql("commit")(c) for c in pipe]),
                                 "ms"),
        "pipeline.py_sent_mb": _m(total(sql("py_sent")) / 1e6, "MB"),
        "pipeline.py_returned_mb": _m(total(sql("py_returned")) / 1e6, "MB"),
        "pipeline.py_run_s": _m(total(sql("py_run")), "s"),
        "pipeline.task_p50_s": _m(med(p50), "s"),
        "pipeline.task_max_s": _m(med(pmax), "s"),
        "pipeline.straggler_ratio": _m(med([b / a for a, b in zip(p50, pmax)
                                            if a > 0]), "ratio"),
        "pipeline.core_util": _m(med([c[2]["run_s"] / (nproc * c[1])
                                      for c in main if c[1] > 0]), "ratio"),
        "pipeline.parallel_eff": _m(eff, "ratio"),
        "jvm.heap_peak_mb": _m(rss.peak_heap_used, "MB"),
        "jvm.rss_peak_mb": _m(rss.peak_jvm, "MB"),
    })
    for n in CURATION:
        out[f"queries.{n}_s"] = _m(med([c[1] for c in main if c[0] == n]),
                                   "s")
    for key, name, scale, unit in (
            ("scan", "queries.scan_ms", 1000, "ms"),
            ("shuffle", "queries.shuffle_mb", 1e-6, "MB"),
            ("fetch_wait", "queries.fetch_wait_ms", 1000, "ms"),
            ("agg_build", "queries.agg_build_ms", 1000, "ms"),
            ("broadcast_build", "queries.broadcast_build_ms", 1000, "ms")):
        out[name] = _m(total(sql(key)) * scale, unit)
    out["queries.codegen_compiles"] = _m(compiles, "count")
    # coverage: share of engine-call time during which a Spark job ran
    by_parent = {}
    for s in tracer.spans:
        if s["layer"] == "spark.job":
            by_parent.setdefault(s["parent"], []).append(s)
    call_spans = [s for s in tracer.spans if s["layer"] in ("pipeline",
                                                            "queries")]
    exec_parent = {s["id"]: s["parent"] for s in tracer.spans
                   if s["layer"] == "spark.sql"}
    jobs_under = {}
    for parent, jobs in by_parent.items():
        top = exec_parent.get(parent, parent)
        jobs_under.setdefault(top, []).extend(jobs)
    covered = total_call = 0.0
    for s in call_spans:
        total_call += s["end"] - s["start"]
        covered += layers._union([(max(j["start"], s["start"]),
                                   min(j["end"], s["end"]))
                                  for j in jobs_under.get(s["id"], [])])
    out["trace.coverage"] = _m(covered / total_call if total_call else 0.0,
                               "ratio")
    out["trace.overhead_frac"] = _m(tracer.own_s / measured_s, "ratio")
    ctx["ratio_bases"] = {
        "pipeline.straggler_ratio": "kernel-stage task max / task p50",
        "pipeline.core_util": "executor run time of the call's stages / "
                              "(nproc x call wall)",
        "pipeline.parallel_eff": "docs_per_s / (nproc x kernel.docs_per_s)",
        "trace.coverage": "engine-call time with a Spark job running / "
                          "engine-call time",
        "trace.overhead_frac": "tracer time / measured window"}
    ctx["self_s"] = {k: round(v, 4) for k, v in tracer.self_times().items()}
    ctx["spans"] = len(tracer.spans)
    return out


if __name__ == "__main__":
    sys.exit(main())
