#!/usr/bin/env python3
"""Record the benchmark's expected outputs into perfbench/expected.json.

    python3 perfbench/record.py --check tools/check.py

For every query and drain listed in workloads.json it:
  1. runs `graft.Verify` on the benchmark corpus, writing each result as
     parquet under .bench_build/verify;
  2. runs the DuckDB oracle compare (`--check`, i.e. tools/check.py) on
     those results and refuses to record unless every one matches;
  3. fingerprints the verified parquet with the harness's own fingerprint
     and stores that as the expected value.
For etl_pipeline it runs one pipeline run and stores each source's records
in and out (the generators have no oracle; the benchmark also checks
read-back counts and health rows on every run).

Re-record only when a result legitimately changes, and say why.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402

import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", required=True, help="path to tools/check.py")
    args = ap.parse_args()

    workloads = run.load_json("workloads.json")["workloads"]
    old = run.load_json("expected.json") if os.path.exists(
        os.path.join(run.HERE, "expected.json")) else {}
    # etl_pipeline's rows per source, as a multiple of the reference defaults
    scale = old.get("etl", {}).get("scale", 60)
    ops = sorted({op for wl in workloads.values() if wl["kind"] == "queries" for op in wl["ops"]})
    cores = len(os.sched_getaffinity(0))
    bdir = run.build_dir()
    os.makedirs(bdir, exist_ok=True)
    jars = run.spark_jars()
    jar, src_hash = run.build(bdir, jars)
    data = run.corpus(bdir, jar, jars, cores)
    work = os.path.join(bdir, "work", "record")
    verify = os.path.join(bdir, "verify")
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(verify, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    log = os.path.join(bdir, "record.log")
    run.run_logged(run.jvm(jar, jars, work, [data, verify] + ops, main="graft.Verify"),
                   log, "graft.Verify", timeout=1800)
    chk = subprocess.run([sys.executable, args.check, data, verify] + ops,
                         capture_output=True, text=True)
    print(chk.stdout.strip().splitlines()[-1] if chk.stdout.strip() else chk.stderr)
    if chk.returncode != 0:
        sys.stderr.write(chk.stdout)
        run.fail("oracle check failed; nothing recorded", 1)

    fp = subprocess.run(run.jvm(jar, jars, work, dict(
        kind="fingerprint", cores=cores, work=work, data=verify, ops=",".join(ops))),
        capture_output=True, text=True, cwd=run.ROOT)
    fps = dict(ln.split()[1:3] for ln in fp.stdout.splitlines() if ln.startswith("fp "))
    if fp.returncode != 0 or sorted(fps) != ops:
        run.fail("fingerprinting verified outputs failed", 1)

    etl = [wl for wl in workloads.values() if wl["kind"] == "etl"]
    sources = {}
    if etl:
        out = os.path.join(work, "etl.json")
        run.run_logged(run.jvm(jar, jars, work, dict(
            kind="etl", ops=",".join(etl[0]["ops"]), seed=0, warm=0, traced=0, cores=cores,
            data="", work=work, out=out, etlScale=scale)), log, "etl run")
        with open(out) as f:
            p = json.load(f)["passes"][0]
        for op in p["ops"]:
            if op["error"] or op["status"] != "SUCCESS" or op["read_back"] != op["records_out"]:
                run.fail("etl source %s did not load cleanly: %r" % (op["name"], op), 1)
            sources[op["name"]] = {"records_in": op["records_in"], "records_out": op["records_out"]}
    shutil.rmtree(work, ignore_errors=True)

    expected = {
        "recorded_from": {
            "source_sha256": src_hash,
            "commit": run.commit(),
            "oracle": chk.stdout.strip().splitlines()[-1],
            "corpus": "perfbench/src/perfbench/Corpus.scala, scale %d" % 1,
        },
        "fingerprints": fps,
        "etl": {"scale": scale, "sources": sources},
    }
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print("recorded %d fingerprints and %d etl sources" % (len(fps), len(sources)))


if __name__ == "__main__":
    main()
