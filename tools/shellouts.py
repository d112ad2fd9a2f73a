#!/usr/bin/env python3
r"""Counts the shell-outs a command makes to chmod, readlink, ls and stat.

Without libhadoop, Hadoop's local file system forks these programs for
permissions, link resolution and file status (`Shell`, `FileUtil`,
`Stat`). This runs a command with a PATH whose first directory holds
one shim per program: each shim records its call and execs the real
program, so the command behaves as it would without the shims. Programs
started by absolute path are not counted.

Usage: shellouts.py [--max PROG=N[,PROG=N...]] -- CMD [ARG...]
  e.g. python3 tools/shellouts.py --max chmod=0,readlink=0 -- \
           python3 perfbench/run.py --workload stream --seed 602 \
           --seconds 10 --trace 0

Prints one line per program, `shellouts <program> <count>`, after the
command's own output, and exits with the command's exit code. With
--max, a count above its bound is reported (`shellouts over ...`) and
makes the exit code 1 when the command itself succeeded.
"""
import os
import shutil
import subprocess
import sys
import tempfile

PROGRAMS = ["chmod", "readlink", "ls", "stat"]


def parse_max(spec):
    """`chmod=0,readlink=0` -> {"chmod": 0, "readlink": 0}; exits with a
    message naming a bad entry."""
    bounds = {}
    for entry in filter(None, (e.strip() for e in spec.split(","))):
        prog, _, n = entry.partition("=")
        if prog not in PROGRAMS or not n.isdigit():
            sys.exit(f"shellouts: --max entry '{entry}' is not PROG=N "
                     f"with PROG one of {', '.join(PROGRAMS)}")
        bounds[prog] = int(n)
    return bounds


def main(argv):
    if "--" not in argv or argv.index("--") == len(argv) - 1:
        sys.exit(__doc__)
    opts, cmd = argv[:argv.index("--")], argv[argv.index("--") + 1:]
    if opts and (opts[0] != "--max" or len(opts) != 2):
        sys.exit(__doc__)
    bounds = parse_max(opts[1]) if opts else {}
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
        over = False
        for prog in PROGRAMS:
            calls = os.path.join(shims, f"{prog}.calls")
            n = os.path.getsize(calls) if os.path.exists(calls) else 0
            print(f"shellouts {prog} {n}")
            if n > bounds.get(prog, n):
                print(f"shellouts over {prog} {n} > {bounds[prog]}")
                over = True
        return code or int(over)
    finally:
        shutil.rmtree(shims, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
