"""Count code lines: the non-blank lines of ``.py`` files that are not
``#`` comments (docstring lines count).  Stdlib only.

    python tools/code_lines.py [PATH ...]

Prints one ``<count> <path>`` line per PATH (a file, or a directory
walked recursively); the default PATH is ``cass_cdc_pg_spark``.
"""

import os
import sys


def code_lines(path: str) -> int:
    files = [path] if os.path.isfile(path) else [
        os.path.join(root, f) for root, _, names in os.walk(path)
        for f in names if f.endswith(".py")]
    n = 0
    for f in files:
        with open(f, encoding="utf-8") as fh:
            n += sum(1 for line in fh if line.strip() and not line.lstrip().startswith("#"))
    return n


if __name__ == "__main__":
    for p in sys.argv[1:] or ["cass_cdc_pg_spark"]:
        print(code_lines(p), p)
