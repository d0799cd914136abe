#!/usr/bin/env python3
"""Count the child processes a JVM forked, from a JFR recording.

Record any JVM with the stock settings, which enable `jdk.ProcessStart`:

    java -XX:StartFlightRecording=filename=run.jfr,settings=default ...
    # or, for a JVM started by a script:
    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=run.jfr,settings=default \\
        python3 perfbench/run.py --workload cold_pipeline --seed 1 --seconds 2 --trace 0

then

    python3 tools/forks.py run.jfr [root]

prints the total, the forks per command (the executable's base name) and,
with `root`, the forks per first path component under `root` (a table
directory of a run's work dir, say); a fork naming no path under `root`
counts as `(elsewhere)`. Runs `jfr print --json --events jdk.ProcessStart`
from the JDK on PATH; stdlib only.
"""
import collections
import json
import os
import re
import subprocess
import sys


def process_starts(recording):
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart", recording],
                         check=True, capture_output=True, text=True).stdout
    return [e["values"]["command"] for e in json.loads(out)["recording"]["events"]]


def component_under(command, root):
    """First path component after `root/` in `command`, or None."""
    prefix = root.rstrip("/") + "/"
    i = command.find(prefix)
    if i < 0:
        return None
    return re.split(r"[/\s]", command[i + len(prefix):], maxsplit=1)[0] or None


def table(title, counts):
    print(title)
    for key, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"  {n:6d}  {key}")


def main(argv):
    if len(argv) not in (2, 3):
        raise SystemExit(__doc__)
    commands = process_starts(argv[1])
    print(f"forks: {len(commands)}")
    table("by command:", collections.Counter(
        os.path.basename(c.split()[0]) if c.strip() else "(empty)" for c in commands))
    if len(argv) == 3:
        root = os.path.abspath(argv[2])
        table(f"by first component under {root}:", collections.Counter(
            component_under(c, root) or "(elsewhere)" for c in commands))


if __name__ == "__main__":
    main(sys.argv)
