"""Output checks for the benchmark workloads.

`oracle` runs the repository's own gate, tools/check_oracle.py, over a
directory of written query results (the layout graft.Verify writes) and
returns the queries it failed; a query without an oracle must also
return rows.
"""
import os
import re
import subprocess
import sys


def oracle(root, data, out):
    """Returns {query: failure message} for the results under `out`."""
    p = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check_oracle.py"), data, out],
        capture_output=True, text=True, timeout=120)
    bad, section = {}, None
    for line in p.stdout.splitlines():
        if line.startswith("== "):
            section = line.split()[1]
            continue
        m = re.match(r"  (q_\w+): (.*)$", line)
        if not m:
            continue
        q, rest = m.groups()
        if section == "FAIL":
            bad[q] = rest
        elif section == "NO-ORACLE" and rest == "0 rows":
            bad[q] = "no rows (no oracle; rows-only check)"
    if p.returncode not in (0, 1) or (p.returncode == 1 and not bad):
        bad["oracle"] = f"check_oracle.py exited {p.returncode}: {p.stderr[-500:]}"
    return bad
