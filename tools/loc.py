#!/usr/bin/env python3
"""Line counts of the Scala sources under src/main.

    python3 tools/loc.py          # lines per file (working tree) and the total
    python3 tools/loc.py HEAD~    # plus each file's and the total's delta
                                  # against a git ref (added/deleted files too)

Run from anywhere inside the repository.
"""
import subprocess
import sys
from pathlib import Path

ROOT = Path(subprocess.check_output(
    ["git", "rev-parse", "--show-toplevel"], text=True).strip())
SRC = "src/main"


def lines(text):
    return text.count("\n") + (1 if text and not text.endswith("\n") else 0)


def tree_counts():
    return {str(p.relative_to(ROOT)): lines(p.read_text(encoding="utf-8"))
            for p in sorted((ROOT / SRC).rglob("*.scala"))}


def ref_counts(ref):
    names = subprocess.check_output(
        ["git", "-C", str(ROOT), "ls-tree", "-r", "--name-only", ref, "--", SRC],
        text=True).split()
    return {n: lines(subprocess.check_output(
        ["git", "-C", str(ROOT), "show", f"{ref}:{n}"], text=True))
        for n in names if n.endswith(".scala")}


def main(argv):
    if len(argv) > 2 or (len(argv) == 2 and argv[1] in ("-h", "--help")):
        print(__doc__.strip())
        return 2
    now = tree_counts()
    ref = argv[1] if len(argv) == 2 else None
    then = ref_counts(ref) if ref else {}
    width = max(len(n) for n in set(now) | set(then))
    for name in sorted(set(now) | set(then)):
        n = now.get(name, 0)
        if ref:
            d = n - then.get(name, 0)
            mark = " (new)" if name not in then else " (deleted)" if name not in now else ""
            if d or mark:
                print(f"{name:<{width}} {n:>6} {d:>+7}{mark}")
            else:
                print(f"{name:<{width}} {n:>6}")
        else:
            print(f"{name:<{width}} {n:>6}")
    total = sum(now.values())
    if ref:
        print(f"{'total':<{width}} {total:>6} {total - sum(then.values()):>+7}  (vs {ref})")
    else:
        print(f"{'total':<{width}} {total:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
