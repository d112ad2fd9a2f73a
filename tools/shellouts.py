#!/usr/bin/env python3
r"""Counts the shell-outs a command makes to chmod, readlink, ls and stat.

Without libhadoop, Hadoop's local file system forks these programs for
permissions, link resolution and file status (`Shell`, `FileUtil`,
`Stat`). This runs a command with a PATH whose first directory holds
one shim per program: each shim records its call and execs the real
program, so the command behaves as it would without the shims. Programs
started by absolute path are not counted.

Usage: shellouts.py -- CMD [ARG...]
  e.g. python3 tools/shellouts.py -- python3 perfbench/run.py \
           --workload stream --seed 602 --seconds 10 --trace 0

Prints one line per program, `shellouts <program> <count>`, after the
command's own output, and exits with the command's exit code.
"""
import os
import shutil
import subprocess
import sys
import tempfile

PROGRAMS = ["chmod", "readlink", "ls", "stat"]


def main(argv):
    if "--" not in argv or argv.index("--") == len(argv) - 1:
        sys.exit(__doc__)
    cmd = argv[argv.index("--") + 1:]
    shims = tempfile.mkdtemp(prefix="shellouts_")
    try:
        for prog in PROGRAMS:
            real = shutil.which(prog)
            if real is None:
                sys.exit(f"shellouts: {prog} not on PATH")
            path = os.path.join(shims, prog)
            # one byte per call, appended: O_APPEND keeps concurrent
            # calls from overwriting each other
            with open(path, "w") as f:
                f.write(f'#!/bin/sh\nprintf . >> "{shims}/{prog}.calls"\n'
                        f'exec "{real}" "$@"\n')
            os.chmod(path, 0o755)
        env = dict(os.environ, PATH=shims + os.pathsep + os.environ.get("PATH", ""))
        code = subprocess.call(cmd, env=env)
        for prog in PROGRAMS:
            calls = os.path.join(shims, f"{prog}.calls")
            n = os.path.getsize(calls) if os.path.exists(calls) else 0
            print(f"shellouts {prog} {n}")
        return code
    finally:
        shutil.rmtree(shims, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
