#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 benchmark/run.py --workload floor --seed 7 --seconds 10 --trace 0

Builds the harness (library sources + `benchmark/harness`) with sbt on
first use, generates the seeded corpus, runs the workload in one JVM,
checks every key's output against its DuckDB oracle outside the timed
region, writes a run record under `benchmark/.work/records/` and prints
one JSON line last: `{"correct", "attempted", "failed", "metrics"}`.
With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones. See benchmark/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

RUN_LIMIT_S = 170          # one run must end within 180 s
BUILD_LIMIT_S = 850        # the first run in a checkout may take 900 s
HEAP = "4g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*.scala"))
    files += sorted((HERE / "harness").rglob("*.scala"))
    files += [HERE / "harness" / "build.sbt",
              HERE / "harness" / "project" / "build.properties"]
    for f in files:
        if "target" in f.parts:
            continue
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the harness and the library once per source state; return
    the runtime classpath."""
    digest = source_digest()
    stamp = WORK / "build" / "classpath.json"
    if stamp.exists():
        cached = json.loads(stamp.read_text())
        if cached["digest"] == digest:
            return cached["classpath"]
    stamp.parent.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE / "harness", env=env, capture_output=True, text=True,
        timeout=BUILD_LIMIT_S)
    lines = [ln for ln in out.stdout.splitlines()
             if "/classes" in ln and not ln.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("harness build failed")
    stamp.write_text(json.dumps({"digest": digest, "classpath": lines[-1].strip()}))
    return lines[-1].strip()


def corpus(seed, scale):
    """Seeded corpus dir, generated once per (seed, scale); only the
    newest few are kept."""
    import gen_corpus
    base = WORK / "data"
    d = base / f"scale{scale}_seed{seed}"
    if not (d / "DONE").exists():
        shutil.rmtree(d, ignore_errors=True)
        gen_corpus.generate(str(d), seed, scale)
        (d / "DONE").write_text("")
    os.utime(d)
    old = sorted(base.iterdir(), key=lambda p: p.stat().st_mtime)[:-24]
    for p in old:
        shutil.rmtree(p, ignore_errors=True)
    return d


def run_harness(cp, wl, data, seed, seconds, trace, run_dir, budget):
    for sub in ("tmp", "local", "dump"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    # A fixed heap size keeps peak RSS from following G1's heap resizing.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", cp,
            "graftbench.Harness", "--data", str(data),
            "--keys", ",".join(wl["keys"]), "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--cpus", str(cpus), "--local-dir", str(run_dir / "local"),
            "--dump", str(run_dir / "dump"), "--out", str(run_dir / "record.json")]
    with open(run_dir / "harness.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {budget:.0f} s; log in {run_dir / 'harness.log'}")
    if rc != 0:
        fail(f"harness exited {rc}; log in {run_dir / 'harness.log'}")
    return json.loads((run_dir / "record.json").read_text())


def check_outputs(record, data, dump_dir):
    """Compare each key's dumped result with its DuckDB oracle over the
    same corpus, with tools/oracle_check.py's comparator. Keys without
    an oracle pass when they return rows. Returns {key: None | reason}."""
    sys.path.insert(0, str(ROOT / "tools"))
    import duckdb
    import oracle_check as oc

    con = duckdb.connect()
    for t in oc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    verdicts = {}
    for key, status in record["dumps"].items():
        if status != "ok":
            verdicts[key] = f"dump failed: {status}"
            continue
        sdf = oc.load_spark(dump_dir, key)
        sql = record["oracle"].get(key)
        if sql is None:
            verdicts[key] = None if sdf is not None and len(sdf) else "rows-only key returned 0 rows"
            continue
        try:
            odf = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            verdicts[key] = f"oracle error: {e}"
            continue
        if sdf is None:
            sdf_cols = []
        else:
            sdf_cols = sorted(sdf.columns)
        if sdf_cols != sorted(odf.columns):
            verdicts[key] = f"schema: spark={sdf_cols} oracle={sorted(odf.columns)}"
            continue
        sdf, odf = sdf[sdf_cols], odf[sdf_cols]
        if len(sdf) != len(odf):
            verdicts[key] = f"rowcount: spark={len(sdf)} oracle={len(odf)}"
            continue
        bad = [c for c in sdf_cols if oc.col_repr(sdf[c]) != oc.col_repr(odf[c])
               or not oc.values_equal(sdf[c], odf[c])]
        verdicts[key] = f"values differ in {bad}" if bad else None
    con.close()
    return verdicts


def end_to_end(record, warm, verdicts):
    """Warm numbers are taken per key first: each key's median over the
    warm passes. `query_s.p50` is the median of those, and `warm_qps`
    is the rate of a pass with every key at its median."""
    cold = [s for s in record["samples"] if s["pass"] == 0]
    walls = [(s["end"] - s["start"]) / 1e3 for s in warm]
    by_key = {}
    for s, w in zip(warm, walls):
        by_key.setdefault(s["key"], []).append(w)
    key_p50 = [stats.median(v) for v in by_key.values()]
    tail_v, tail_p, tail_n = stats.tail(walls)
    timed = record["samples"]
    n_fail = sum(1 for s in timed if not s["ok"])
    return {
        "setup_s": stats.median(record["setup_s"]),
        "cold_pass_s": (cold[-1]["end"] - record["timed_start"]) / 1e3 if cold else 0.0,
        "warm_qps": len(key_p50) / sum(key_p50) if key_p50 else 0.0,
        "query_s.p50": stats.median(key_p50),
        "query_s.tail": tail_v,
        "peak_rss_mb": record["vm_hwm_kb"] / 1024.0,
        "failed_frac": n_fail / max(len(timed), 1),
        "wrong_frac": sum(1 for v in verdicts.values() if v) / max(len(verdicts), 1),
    }, {"percentile": tail_p, "samples": tail_n}


def per_layer(record, wl):
    traced = [s for s in record["samples"] if s["traced"]]
    out, all_spans = {}, []
    for kind, sel in (("cold", lambda s: s["pass"] == 0),
                      ("warm", lambda s: s["pass"] > 0)):
        rep, sp = layers.layer_report(record, [s for s in traced if sel(s)])
        all_spans += sp
        out.update({f"{kind}.{k}": v for k, v in rep.items()})
    # reader builds: every warm build, after the cold pass built the artifacts
    readers = [s for s in traced if s["pass"] > 0]
    reused = [s for s in readers if s["memo_files"]["build_files"] == 0]
    out["memo.reuse_ratio"] = len(reused) / len(readers) if readers else 1.0
    warm = [s for s in record["samples"] if s["pass"] > 0]
    for name, keys in (("tvf", wl["tvf_pairs"].keys()), ("tvf_twin", wl["tvf_pairs"].values())):
        out[f"{name}.query_s.p50"] = stats.median(
            [(s["end"] - s["start"]) / 1e3 for s in warm if s["key"] in set(keys)])
    qps = {}
    for traced_pass in (True, False):
        ps = [p for p in record["passes"] if p["pass"] > 0 and p["traced"] == traced_pass]
        n = sum(1 for s in warm if s["traced"] == traced_pass)
        qps[traced_pass] = n / (sum(p["end"] - p["start"] for p in ps) / 1e3)
    out["trace.overhead_frac"] = 1.0 - qps[True] / qps[False]
    return out, all_spans


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("src/main/scala/graft/ops/OpSpec.scala", "tools/gen_sf1.py",
                 "tools/oracle_check.py"):
        if not (ROOT / need).exists():
            fail(f"{need} is missing: run from a full checkout of the repository")
    wl = workloads.WORKLOADS[a.workload]
    cp = build()
    t0 = time.monotonic()
    data = corpus(a.seed, wl["scale"])
    t_corpus = time.monotonic()
    run_dir = WORK / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        record = run_harness(cp, wl, data, a.seed, a.seconds, a.trace, run_dir,
                             RUN_LIMIT_S - (time.monotonic() - t0))
        t_harness = time.monotonic()
        verdicts = check_outputs(record, data, run_dir / "dump")
        t_check = time.monotonic()
    finally:
        for sub in ("tmp", "local", "dump"):
            shutil.rmtree(run_dir / sub, ignore_errors=True)

    warm = [s for s in record["samples"] if s["pass"] > 0 and not s["traced"]]
    e2e, tail_info = end_to_end(record, warm, verdicts)
    layer, spans = per_layer(record, wl) if a.trace else ({}, [])
    by_key = {}
    for s in record["samples"]:
        by_key.setdefault(s["key"], {}).setdefault(str(s["pass"]), []).append(
            round((s["end"] - s["start"]) / 1e3, 6))
    failed = sorted({s["key"] for s in record["samples"] if not s["ok"]})
    wrong = {k: v for k, v in verdicts.items() if v}
    rec = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "end_to_end": e2e, "query_s.tail": tail_info, "per_layer": layer,
        "failed_keys": failed, "wrong_keys": wrong, "per_key_pass_s": by_key,
        "setup_samples_s": record["setup_s"], "cpus": record["cpus"],
        "run_phases_s": {"corpus": t_corpus - t0, "harness": t_harness - t_corpus,
                         "dump": record["dump_s"], "check": t_check - t_harness},
        "covariates": {k: record[k] for k in ("loadavg1m", "loadavg1m_end",
                                              "cpu_steal_jiffies")},
    }
    rdir = WORK / "records"
    rdir.mkdir(parents=True, exist_ok=True)
    name = f"{a.workload}_seed{a.seed}_trace{a.trace}_{time.strftime('%Y%m%dT%H%M%S')}"
    (rdir / f"{name}.json").write_text(json.dumps(rec, indent=1))
    if spans:
        (rdir / f"{name}.spans.json").write_text(json.dumps(spans))
    shutil.rmtree(run_dir, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    for k, v in e2e.items():
        print(f"{k:16s} {v:.6g} {units.get(k, 'ratio')}")
    print(f"query_s.tail is p{tail_info['percentile']:.1f} of {tail_info['samples']} samples")
    for k, v in wrong.items():
        print(f"WRONG  {k}: {v}")
    for k in failed:
        print(f"FAILED {k}")
    print(f"record {rdir / (name + '.json')}")
    values = layer if a.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in SPEC["per_layer" if a.trace else "end_to_end"]}
    print(json.dumps({"correct": not wrong, "attempted": len(record["samples"]),
                      "failed": sum(1 for s in record["samples"] if not s["ok"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
