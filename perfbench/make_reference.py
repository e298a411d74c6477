#!/usr/bin/env python3
"""Record the reference digests every benchmark op is checked against.

Usage (from the repository root):

    python3 perfbench/make_reference.py [corpus ...]

For each corpus (default: the sf0.1 corpus and the sf0.001 smoke
corpus) this dumps the benchmark's 30 queries once, runs
tools/check_oracle.py unchanged on the dumps with CHECK_ORACLE_ONLY set
to those queries, and requires an exact DuckDB match for every one.
Only then does it write perfbench/reference/<corpus name>.json with
each query's digest (row count plus two order-independent sums of a
full-row hash; see Digest.scala). The digest of a fresh build of the
query must equal the digest of its dump read back, so the recorded
digest is the digest of the result the oracle checked.
"""
import json
import os
import re
import shutil
import subprocess
import sys

import run

CORPORA = [os.path.join(run.TESTDATA, "sf0.1"), os.path.join(run.TESTDATA, "sf0.001")]


def reference(corpus):
    name = os.path.basename(os.path.normpath(corpus))
    out = os.path.join(run.RUNS, f"reference-{name}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        dump = os.path.join(out, "dump")
        cmd = run.jvm_command(out, "perfbench.Reference",
                              [os.path.abspath(corpus), dump, str(run.CORES)])
        if subprocess.call(cmd, cwd=out, stdin=subprocess.DEVNULL) != 0:
            run.fail(f"reference dump failed for {corpus}", 1)
        digests = {}
        for line in open(os.path.join(dump, "digests.tsv")):
            q, live, dumped = line.split()
            if live != dumped:
                run.fail(f"{q}: live digest {live} != dumped digest {dumped}", 1)
            digests[q] = live
        record = os.path.join(out, "correctness.json")
        check = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
             corpus, dump, "-", record],
            env=dict(os.environ, CHECK_ORACLE_ONLY=",".join(sorted(digests))),
            stdout=subprocess.PIPE, text=True)
        print(check.stdout)
        exact = set(re.findall(r"^(q\d\d_\w+): OK \(\d+ rows\) \[exact\]$",
                               check.stdout, re.M))
        verdicts = json.load(open(record))
        bad = sorted(q for q in digests
                     if q not in exact or not verdicts.get(q, {}).get("hash_match"))
        if check.returncode != 0 or bad:
            run.fail(f"{corpus}: no exact oracle match for {bad or 'some query'}", 1)
        corpus_bytes = sum(os.path.getsize(os.path.join(d, f))
                           for d, _, fs in os.walk(corpus) for f in fs)
        dest = os.path.join(run.HERE, "reference", f"{name}.json")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        with open(dest, "w") as f:
            json.dump({"corpus": name, "corpus_bytes": corpus_bytes,
                       "oracle": "tools/check_oracle.py, exact match",
                       "digests": dict(sorted(digests.items()))}, f, indent=1)
            f.write("\n")
        print(f"{len(digests)} digests -> {os.path.relpath(dest, run.ROOT)}")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def main():
    run.build(run.source_hash())
    for corpus in sys.argv[1:] or CORPORA:
        reference(corpus)


if __name__ == "__main__":
    main()
