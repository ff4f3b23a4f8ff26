#!/usr/bin/env python3
"""Regenerate the hand-rot-prone counts in README.md from the build.

Counts are DERIVED, never typed (rounds 9 and 10 both shipped stale
spec totals):
  - specs / suites: parsed from an `sbt test` log (pass its path, or
    pipe `sbt -batch test | tee /tmp/sbt_test.log` first)
  - gate queries / spec ops: read from the compiled classes via a
    tiny JVM entry (graft.Counts), so the numbers are exactly
    SparkEntry.gates.size and Transforms.knownTypes.size (graft.Counts
    prints them as queries=/ops=).

Usage: tools/readme_counts.py /tmp/sbt_test.log
"""
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def sbt_counts(log_path):
    text = Path(log_path).read_text()
    m_tests = re.findall(r"Total number of tests run: (\d+)", text)
    m_suites = re.findall(r"Suites: completed (\d+)", text)
    if not m_tests or not m_suites:
        sys.exit(f"no scalatest summary found in {log_path}")
    return int(m_tests[-1]), int(m_suites[-1])


def jvm_counts():
    cp = f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*"
    out = subprocess.run(
        ["java", "-cp", cp, "graft.Counts"],
        capture_output=True, text=True, check=True).stdout
    kv = dict(kv.split("=") for kv in out.split())
    return int(kv["queries"]), int(kv["ops"])


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    tests, suites = sbt_counts(sys.argv[1])
    queries, ops = jvm_counts()

    readme = REPO / "README.md"
    text = readme.read_text()
    text, n1 = re.subn(r"build \+ \d+ specs across \d+ suites",
                       f"build + {tests} specs across {suites} suites", text)
    text, n2 = re.subn(r"\d+ gate queries",
                       f"{queries} gate queries", text)
    text, n3 = re.subn(r"\d+ registered spec ops",
                       f"{ops} registered spec ops", text)
    if not (n1 and n2 and n3):
        sys.exit(f"README patterns not all found (specs={n1} gates={n2} ops={n3})")
    readme.write_text(text)
    print(f"README.md: {tests} specs / {suites} suites / "
          f"{queries} gates / {ops} spec ops")


if __name__ == "__main__":
    main()
