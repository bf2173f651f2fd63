#!/usr/bin/env python3
"""One-off census: full-result time and count() time of every declared
query, once each, in name order, on one session.

    python3 perfbench/census.py <sfDir> <out.jsonl> [query,query,...]

Run from the root of a source checkout. Builds the harness like run.py
does, then writes one JSON line per query (full_s, count_s, build_s,
rows, error). Not part of the gated runs."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    if len(sys.argv) < 3:
        run.die(__doc__)
    root = os.getcwd()
    launch = run.ensure_built(root)
    work = os.path.join(root, run.BUILD, "work", f"census-{os.getpid()}")
    os.makedirs(work)
    cmd = run.java_command(launch, work) + [
        "--mode", "census", "--data", os.path.abspath(sys.argv[1]),
        "--out", os.path.abspath(sys.argv[2]), "--work", work]
    if len(sys.argv) > 3:
        cmd += ["--queries", sys.argv[3]]
    try:
        code = run.call(cmd, 4 * 3600, os.path.join(root, run.BUILD, "census.log"),
                        env=run.jvm_env(work), cwd=root)
    finally:
        run.rmtree(work)
    sys.exit(0 if code == 0 else 1)


if __name__ == "__main__":
    main()
