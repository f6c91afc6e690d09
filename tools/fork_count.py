#!/usr/bin/env python3
"""Counts the helper processes a command starts, by name.

    python3 tools/fork_count.py -- <command> [args...]

Hadoop's local filesystem, run without its native library, starts a
shell command for some file operations (`readlink` for a link status,
`chmod` for a permission, `ls -ld` for an owner). This tool puts a
directory of shims first on PATH, one per name in SHIMMED, each of which
logs its name and its parent's name and then execs the real program. It
runs the command with that PATH, prints one line per name and parent
(`<name> <parent> <count>`) and a total, and deletes the shims. A JVM
resolves a bare program name through the PATH it started with, so every
such process a JVM under the command starts is counted; the `java`
parent lines are the JVM's own.

The command's exit status is passed on.
"""
import collections
import os
import shutil
import subprocess
import sys
import tempfile

SHIMMED = ("readlink", "chmod", "chown", "ls", "stat", "ln", "df", "du", "bash")

SHIM = """#!/bin/sh
read -r parent < /proc/$PPID/comm 2>/dev/null || parent=unknown
echo "{name} $parent" >> "{log}"
exec "{real}" "$@"
"""


def main() -> int:
    argv = sys.argv[1:]
    if argv[:1] == ["--"]:
        argv = argv[1:]
    if not argv:
        sys.stderr.write(__doc__)
        return 2
    shims = tempfile.mkdtemp(prefix="fork_count_")
    try:
        log = os.path.join(shims, "forks.log")
        open(log, "w").close()
        path = os.environ.get("PATH", "")
        for name in SHIMMED:
            real = shutil.which(name, path=path)
            if real is None:
                continue
            shim = os.path.join(shims, name)
            with open(shim, "w") as f:
                f.write(SHIM.format(name=name, log=log, real=real))
            os.chmod(shim, 0o755)
        env = dict(os.environ, PATH=shims + os.pathsep + path)
        status = subprocess.call(argv, env=env)
        counts = collections.Counter()
        with open(log) as f:
            for line in f:
                name, _, parent = line.strip().partition(" ")
                counts[(name, parent)] += 1
        print("== fork_count")
        for (name, parent), n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
            print(f"{name} {parent} {n}")
        print(f"total {sum(counts.values())}")
        return status
    finally:
        shutil.rmtree(shims, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
