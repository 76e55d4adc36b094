#!/usr/bin/env python3
"""Count the child processes a JVM started, from a JFR recording.

Record a run with JFR's default settings (they include `jdk.ProcessStart`
with stack traces), e.g.

    java -XX:StartFlightRecording=filename=run.jfr ... graft.perfbench.Main ...
    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=$PWD/run.jfr python3 perfbench/run.py ...

then

    python3 scripts/fork_census.py run.jfr

prints the process starts grouped by command (the program name) and by the
first `org.apache.spark`, `graft` or `org.apache.parquet` frame on the
starting stack, and how many came from Hadoop's `org.apache.hadoop.util.Shell`.
"""
import collections
import os
import subprocess
import sys

OWNERS = ("org.apache.spark.", "graft.", "org.apache.parquet.")
SHELL = "org.apache.hadoop.util.Shell"


def events(jfr_file):
    """Yield (command, [frame, ...]) per jdk.ProcessStart event."""
    out = subprocess.run(["jfr", "print", "--events", "jdk.ProcessStart", "--stack-depth", "40",
                          jfr_file], check=True, capture_output=True, text=True).stdout
    command, frames, in_stack = None, [], False
    for line in out.splitlines():
        s = line.strip()
        if s.startswith("jdk.ProcessStart {"):
            command, frames, in_stack = None, [], False
        elif s.startswith("command = "):
            command = s[len("command = "):].strip('"')
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s != "...":
            frames.append(s.split("(", 1)[0])
        elif s == "}" and command is not None:
            yield command, frames
            command = None


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    by_command, by_owner = collections.Counter(), collections.Counter()
    total = shell = 0
    for command, frames in events(sys.argv[1]):
        total += 1
        shell += any(f.startswith(SHELL) for f in frames)
        by_command[os.path.basename(command.split(" ", 1)[0])] += 1
        by_owner[next((f for f in frames if f.startswith(OWNERS)), "(no engine frame)")] += 1
    print(f"{total} process starts, {shell} from {SHELL}")
    for title, counts in (("by command", by_command), ("by first spark/graft/parquet frame", by_owner)):
        print(f"\n{title}:")
        for key, n in counts.most_common():
            print(f"  {n:8d}  {key}")


if __name__ == "__main__":
    main()
