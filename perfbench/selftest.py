"""Self-test of the benchmark's output checks.

    python3 perfbench/selftest.py

Run from the root of a checkout. It copies the program and the
benchmark into ``.perfbench/selftest/`` three times and runs
``markup_dense`` in each copy:

* ``clean``   unmodified: must read ``correct_frac`` 1 and exit 0;
* ``fault``   ``extract_text`` alters the first turn of every Arrow
  batch: must read ``correct_frac`` < 1 and exit 1;
* ``bare``    holds only ``BENCHMARK.json`` and ``perfbench/``: must
  exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

FAULT_FILE = os.path.join("html_parser_spark", "operators", "extract.py")
FAULT_FROM = "                ex.append(txt)\n"
FAULT_TO = "                ex.append(txt if ex else txt + '#')\n"


def make_copy(root: str, dest: str, program: bool) -> None:
    shutil.rmtree(dest, ignore_errors=True)
    ignore = shutil.ignore_patterns("__pycache__")
    dirs = ["perfbench"] + (["html_parser_spark", "scripts"] if program
                            else [])
    for d in dirs:
        shutil.copytree(os.path.join(root, d), os.path.join(dest, d),
                        ignore=ignore)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), dest)


def run(copy: str) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "markup_dense",
         "--seed", "7", "--seconds", "1", "--trace", "0"],
        cwd=copy, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=300, check=False)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result


def main() -> int:
    root = os.getcwd()
    base = os.path.join(root, ".perfbench", "selftest")
    copies = {name: os.path.join(base, name)
              for name in ("clean", "fault", "bare")}
    make_copy(root, copies["clean"], True)
    make_copy(root, copies["fault"], True)
    make_copy(root, copies["bare"], False)
    path = os.path.join(copies["fault"], FAULT_FILE)
    with open(path, encoding="utf-8") as f:
        src = f.read()
    if src.count(FAULT_FROM) != 1:
        print(f"selftest: cannot plant the fault, {FAULT_FILE} no longer "
              f"holds {FAULT_FROM.strip()!r} once", file=sys.stderr)
        return 2
    with open(path, "w", encoding="utf-8") as f:
        f.write(src.replace(FAULT_FROM, FAULT_TO))

    ok = True
    for name, copy in copies.items():
        rc, res = run(copy)
        frac = (res["metrics"]["correct_frac"]["value"]
                if res and "metrics" in res else None)
        if name == "clean":
            good = rc == 0 and res is not None and res["failed"] == 0
        elif name == "fault":
            good = (rc == 1 and res is not None and res["failed"] > 0
                    and frac < 1)
        else:
            good = rc != 0 and res is None
        ok &= good
        failed = res["failed"] if res else None
        attempted = res["attempted"] if res else None
        print(f"{name:6s} exit={rc} failed={failed} attempted={attempted} "
              f"correct_frac={frac} -> {'ok' if good else 'WRONG'}")
    shutil.rmtree(base, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
