"""Run one benchmark workload and print its result as one JSON line.

    python3 loadbench/run.py --workload fleet_serving --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Builds the program (build.py), generates
the workload's inputs from the seed (gen.py) into a fresh work directory
under `.bench_build/work`, runs the executor JVM (src/loadbench) on them,
checks its answers against the generator's ground truth, and prints
`{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
with `--trace 0`, the per-layer metrics of the traced run with `--trace 1`.
The run record (every latency class, drift check, host provenance) is
written beside it to `.bench_build/results/`. Exits non-zero on a wrong
answer or a failed build.
"""

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the checkout stays as git would commit it

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
from host import Provenance  # noqa: E402

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# A fixed, pre-touched heap keeps peak RSS a property of the program, not of
# how far the heap happened to grow.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            "-XX:-UsePerfData"]
DEADLINE_S = 170  # every run ends well inside the 180 s limit

# Fixed work per unit of --seconds, sized so the timed phase lasts about
# that long on a 4-core host. Work never depends on elapsed time. `reps`:
# setup repetitions, whose median is reported.
FLEET = dict(machines=120, rows_per_machine=1500, questions_per_s=3.5, reps=5,
             warm_ingests=2)
LAKE = dict(window=6, appends=12, batch=50, probes=2, maintain_every=2,
            warm_cycles=1, seconds_per_cycle=6, reps=3)
CURATION = dict(families=6000, exact_groups=1500, near_clusters=1500,
                low_quality=400, warm_calls=2, calls_per_s=0.5, reps=5)


def prepare_fleet(seed, seconds, work):
    text, truth = gen.fleet(seed, FLEET["machines"], FLEET["rows_per_machine"])
    ids = sorted(truth)
    warm = gen.fleet_warmup(seed, ids)
    timed = gen.fleet_questions(
        seed, ids, max(16, round(FLEET["questions_per_s"] * seconds)))
    plan = warm + timed
    _write(work, "fleet.csv", text)
    _write(work, "plan.tsv", "\n".join(plan) + "\n")
    rows = sum(len(r) for r in truth.values())

    def check(res, answers):
        bad = [i for i, a in answers
               if not _same(a, gen.fleet_answer(truth, plan[i]))]
        logs = sum(1 for l in plan if l.startswith("log\t"))
        ck = res["checks"]
        problems = [f"answer {i}: {plan[i]!r}" for i in bad[:5]]
        if ck["log_rows"] != logs or ck["log_ids"] != logs:
            problems.append(f"query log holds {ck['log_rows']} rows "
                            f"({ck['log_ids']} ids), {logs} appended")
        if len(answers) != sum(1 for l in plan
                               if l.split("\t")[0] in gen.POINT + gen.WIDE):
            problems.append("answers missing")
        return problems

    def rows_per_s(res):  # the setup ingests after the JIT has warmed
        return rows / stats.median(res["ingest_s"][FLEET["warm_ingests"]:])

    return dict(timed_from=len(warm), reps=FLEET["reps"]), check, rows_per_s


def prepare_lake(seed, seconds, work):
    cycles = LAKE["warm_cycles"] + max(2, round(seconds / LAKE["seconds_per_cycle"]))
    docs, plan, starts = gen.lake(
        seed, cycles, window=LAKE["window"], appends=LAKE["appends"],
        batch=LAKE["batch"], maintain_every=LAKE["maintain_every"],
        probes=LAKE["probes"])
    _write(work, "docs.tsv", "\n".join(docs) + "\n")
    _write(work, "plan.tsv", "\n".join(plan) + "\n")
    timed_from = starts[LAKE["warm_cycles"]]
    table, expect = gen.lake_model(docs, plan)
    view = " ".join(sorted(f"{s}:{n}:{t}" for s, (n, t) in
                           gen.lake_view(table).items()))

    def check(res, answers):
        problems = [f"answer {i}: {plan[i]!r} gave {a}, expected {expect[i]}"
                    for i, a in answers if a != expect[i]][:5]
        if len(answers) != sum(1 for e in expect if e):
            problems.append("answers missing")
        ck = res["checks"]
        want = dict(rows=len(table), distinct_ids=len(table),
                    sum_chars=sum(v[2] for v in table.values()), view=view,
                    index_equals_fresh_build=True)
        problems += [f"{k}: {ck[k]!r}, expected {v!r}"
                     for k, v in want.items() if ck[k] != v]
        return problems

    landed = sum(int(l.split("\t")[3]) - int(l.split("\t")[2])
                 for l in plan[timed_from:] if l.startswith("append\t"))

    def rows_per_s(res):
        return landed / res["timed_wall_s"]

    return dict(timed_from=timed_from, reps=LAKE["reps"]), check, rows_per_s


def prepare_curation(seed, seconds, work):
    lines, truth = gen.corpus(seed, CURATION["families"],
                              CURATION["exact_groups"],
                              CURATION["near_clusters"], CURATION["low_quality"])
    _write(work, "corpus.tsv", "\n".join(lines) + "\n")
    calls = max(2, round(CURATION["calls_per_s"] * seconds))

    def check(res, answers):
        problems = []
        for k, a in answers:
            got = dict(kv.split("=") for kv in a.split(","))
            problems += [f"call {k}: {n}={got.get(n)}, expected {v}"
                         for n, v in truth.items() if int(got.get(n, -1)) != v]
        if len(answers) != CURATION["warm_calls"] + calls:
            problems.append("answers missing")
        return problems

    def rows_per_s(res):
        return truth["raw"] / (stats.median(res["classes"]["run_docs"]) / 1000)

    return (dict(warm_calls=CURATION["warm_calls"], calls=calls,
                 reps=CURATION["reps"]), check, rows_per_s)


WORKLOADS = {
    "fleet_serving": prepare_fleet,
    "lakehouse_cycles": prepare_lake,
    "curation_batch": prepare_curation,
}


def _write(work, name, text):
    with open(os.path.join(work, name), "w") as f:
        f.write(text)


def _same(got, want):
    """Answers agree token by token; numbers to 1e-6 relative."""
    a, b = got.split(" "), want.split(" ")
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if x == y:
            continue
        try:
            if not math.isclose(float(x), float(y), rel_tol=1e-6):
                return False
        except ValueError:
            return False
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes_dir = build.build(root)

    prov = Provenance()
    started = time.time()
    work = os.path.join(root, ".bench_build", "work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        opts, check, rows_per_s = WORKLOADS[a.workload](a.seed, a.seconds, work)
        gen_s = time.perf_counter() - t0
        res, answers = execute(classes_dir, root, work, a, opts, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    problems = check(res, answers)

    metrics = {}
    if a.trace:
        layers = res.get("layers", {})
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": layers.get(m["name"], 0.0),
                                  "unit": m["unit"]}
    else:
        values = {
            "setup_s": gen_s + res["session_s"] + stats.median(res["setup_reps_s"]),
            "ops_per_s": res["attempted"] / res["timed_wall_s"],
            "rows_per_s": rows_per_s(res),
            "space_amp": res["space_amp"],
            "peak_rss_mb": res["peak_rss_mb"],
        }
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "metrics": metrics, "problems": problems,
        "classes": {c: stats.summarize(xs) for c, xs in res["classes"].items()},
        "samples_ms": res["classes"],
        "setup_reps_s": res["setup_reps_s"], "session_s": res["session_s"],
        "gen_s": gen_s, "timed_wall_s": res["timed_wall_s"],
        "marks": res["marks"],
        "host": prov.finish(),
    }
    out_dir = os.path.join(root, ".bench_build", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{a.workload}-s{a.seed}-t{a.trace}-"
                           f"{int(started)}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for c, s in sorted(record["classes"].items()):
        sys.stderr.write(f"[loadbench] {c}: {s}\n")
    for p in problems:
        sys.stderr.write(f"[loadbench] WRONG {p}\n")
    failed = res["failed"]
    correct = not problems and failed == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def execute(classes_dir, root, work, a, opts, started):
    """Run the executor JVM; return (result.json, [(tag, answer)])."""
    cp = os.pathsep.join([classes_dir,
                          os.path.join(root, "src", "main", "resources"),
                          os.path.join(build.SPARK_JARS, "*")])
    args = dict(workload=a.workload, work=work, cores=len(os.sched_getaffinity(0)),
                trace=a.trace, **opts)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}",
           *ADD_OPENS, "-cp", cp, "loadbench.Main",
           *[f"{k}={v}" for k, v in args.items()]]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"executor exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(work, "answers.tsv")) as f:
        answers = []
        for line in f.read().splitlines():
            tag, _, ans = line.partition("\t")
            answers.append((int(tag), ans))
    return res, answers


if __name__ == "__main__":
    sys.exit(main())
