"""Checks each query's saved result against the DuckDB replay of its
`SparkEntry.oracleSql` by running the repository's own checker,
`tools/compare_oracle.py`, on the results directory.
"""
import re
import shutil
import subprocess
import sys

VERDICT = re.compile(r"^(\S+): (OK|FAIL|rows-only)\b\s*(.*)$")
CHECK_TIMEOUT_S = 20  # with the JVM's 150 s, the run ends within 180 s


def verdicts(output):
    """{query: (verdict, detail)} from the lines of compare_oracle.py."""
    found = {}
    for line in output.splitlines():
        m = VERDICT.match(line)
        if m:
            found[m.group(1)] = (m.group(2), m.group(3))
    return found


def check(root, results_dir, queries, data_dir):
    """{query: problem} for every query whose result is missing or does not
    match its oracle. Queries without an oracle are only required to have
    written a result."""
    bad = {}
    for q in queries:
        if not (results_dir / q / "_SUCCESS").exists():
            bad[q] = "no result from the results pass"
            # the checker reads every directory it is given
            shutil.rmtree(results_dir / q, ignore_errors=True)
    try:
        p = subprocess.run([sys.executable, str(root / "tools" / "compare_oracle.py"),
                            str(data_dir), str(results_dir)],
                           capture_output=True, text=True, timeout=CHECK_TIMEOUT_S)
        found, why = verdicts(p.stdout), f"exit {p.returncode}: {p.stderr.strip()[-500:]}"
    except subprocess.TimeoutExpired:
        found, why = {}, f"over {CHECK_TIMEOUT_S} s"
    for q in queries:
        if q in bad:
            continue
        verdict, detail = found.get(q, (None, ""))
        if verdict is None:
            bad[q] = f"not checked: tools/compare_oracle.py {why}"
        elif verdict == "FAIL":
            bad[q] = "oracle mismatch: " + detail
    return bad
