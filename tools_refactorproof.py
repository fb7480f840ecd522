#!/usr/bin/env python
"""Evidence that a change keeps each registry entry's results.

Usage: ``python tools_refactorproof.py PARENT_REV [NAME ...]``

Without names, the entries are those whose ``tools_implhash`` hash in
the working tree differs from PARENT_REV's ``IMPL_HASHES.json``. For
each it prints one row:

- plan: the normalized optimized plan is ``same`` or ``moved`` (with
  the path of the unified diff);
- frame: the sorted ``toPandas()`` results of both trees are equal;
- parity against the DuckDB oracle at sf0.001, sf0.01 and sf0.1, on
  the working tree only (``tools_paritycheck.check``);
- oracle: the oracle SQL text is byte-identical;
- _IMPL_REPLACED: the entry needs a ledger row (its hash moved and the
  driver has scored it), and whether the row is there.

Then one table of code lines (no blanks or comments) and Python tokens
(no comments or docstrings) per changed ``.py`` file.

The parent is a ``git clone`` checked out at PARENT_REV in a temporary
directory. Each tree is dumped at sf0.1 (plans do not depend on the
scale factor) by its own child process, one after the other; the child
imports the package from its tree only, through ``sys.path`` and
``PYTHONPATH``, and the header prints the package path each child
loaded. The child clears the session cache before each entry, so no
entry reads a relation an earlier one persisted.

A plan holds no Python kernel body (a ``mapInArrow``/UDF function):
the frame column is what covers one. Where a plan moves on purpose,
list each difference and time the entry warm (min-of-4) at both trees.
Exit code 1 if a frame differs or parity fails.
"""
from __future__ import annotations

import ast
import difflib
import io
import json
import os
import re
import subprocess
import sys
import tempfile
import tokenize

from tools_implhash import (
    _INFRA_KEY, _SCHEME_KEY, _current_round, blocked_updates, compute_hashes,
)

HERE = os.path.dirname(os.path.abspath(__file__))
SFS = ("sf0.001", "sf0.01", "sf0.1")

_CHILD = r"""
import os, sys
tree, out, names = sys.argv[1], sys.argv[2], sys.argv[3:]
sys.path.insert(0, tree)
import pinot_pulsar_plugin_spark
from pinot_pulsar_plugin_spark import registry
from pinot_pulsar_plugin_spark.session import get_spark
print(pinot_pulsar_plugin_spark.__file__, flush=True)
spark = get_spark("refactorproof", driver_memory=%r)
qs, osql = registry.all_queries(), registry.all_oracle_sql()
for name in names:
    spark.catalog.clearCache()
    df = qs[name](spark, "/root/testdata/sf0.1")
    base = os.path.join(out, name)
    with open(base + ".plan", "w") as fh:
        fh.write(df._jdf.queryExecution().optimizedPlan().toString())
    with open(base + ".sql", "w") as fh:
        fh.write(osql.get(name, ""))
    pdf = df.toPandas()
    pdf = pdf.sort_values(list(pdf.columns), key=lambda c: c.astype(str))
    pdf.reset_index(drop=True).to_pickle(base + ".pkl")
spark.stop()
"""


def normalize_plan(text: str) -> str:
    """Drop what differs between two sessions building the same plan:
    expression ids (``#12``, ``#12L``), cached relations' ``plan_id=N``
    and PySpark's numbered lambda variables (``x_9``, ``y_10``)."""
    text = re.sub(r"#\d+L?", "#", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    return re.sub(r"\b(x|y)_\d+", r"\1_", text)


_LAYOUT = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def code_counts(src: str) -> tuple[int, int]:
    """(lines that are neither blank nor comment-only, tokens other than
    comments and docstrings) of Python source ``src``."""
    doc_lines = set()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            doc_lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines, tokens = set(), 0
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _LAYOUT:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
        tokens += not (tok.type == tokenize.STRING and tok.start[0] in doc_lines)
    return len(lines), tokens


def select_entries(parent: dict, change: dict) -> tuple[list[str], bool]:
    """(entries in both ledgers whose hash moved, whether the shared
    infra hash moved)."""
    names = sorted(
        n for n in change
        if n not in (_INFRA_KEY, _SCHEME_KEY) and n in parent and parent[n] != change[n]
    )
    return names, parent.get(_INFRA_KEY) != change.get(_INFRA_KEY)


def _read(path: str) -> str:
    with open(path) as fh:
        return fh.read()


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", HERE, *args], check=True, capture_output=True, text=True
    ).stdout


def _dump(tree: str, out: str, names: list[str], memory: str) -> str:
    """Dump ``names`` of ``tree`` into ``out`` in a child process; return
    the package path the child imported."""
    os.makedirs(out)
    env = dict(os.environ, PYTHONPATH=tree)
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD % memory, tree, out, *names],
        cwd=tree, env=env, capture_output=True, text=True,
    )
    if proc.returncode:
        sys.exit(f"dump of {tree} failed:\n{proc.stderr[-3000:]}")
    return proc.stdout.splitlines()[0]


def _code_table(sha: str) -> None:
    changed = _git("diff", "--name-only", sha, "--", "*.py").split()
    changed += _git("ls-files", "--others", "--exclude-standard", "--", "*.py").split()
    paths = sorted(set(changed))
    w = max(map(len, paths + ["total"]))
    print(f"\n{'file':<{w}}  {'lines':>15}  {'tokens':>17}")
    total = [0, 0, 0, 0]
    for path in paths:
        try:
            old = code_counts(_git("show", f"{sha}:{path}"))
        except subprocess.CalledProcessError:
            old = (0, 0)
        full = os.path.join(HERE, path)
        new = code_counts(_read(full)) if os.path.exists(full) else (0, 0)
        for i, v in enumerate(old + new):
            total[i] += v
        print(f"{path:<{w}}  {old[0]:>6} → {new[0]:<6}  {old[1]:>7} → {new[1]:<7}")
    print(
        f"{'total':<{w}}  {total[0]:>6} → {total[2]:<6}  {total[1]:>7} → {total[3]:<7}"
        f"  ({total[2] - total[0]:+} lines, {total[3] - total[1]:+} tokens)"
    )


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__)
        return 2
    sha = _git("rev-parse", argv[0]).strip()
    recorded = json.loads(_git("show", f"{sha}:IMPL_HASHES.json"))
    moved, infra = select_entries(recorded, compute_hashes())
    names = argv[1:] or moved
    if not names:
        if infra:
            print(f"only {_INFRA_KEY} moved since {sha[:12]}: name the entries to check")
            return 2
        print(f"no entry's implementation hash moved since {sha[:12]}")
        return 0

    import pandas as pd
    from pinot_pulsar_plugin_spark.registry import _IMPL_REPLACED, driver_green_rounds
    from tools_paritycheck import DRIVER_MEMORY, check

    out = tempfile.mkdtemp(prefix="refactorproof-")
    print(f"parent {sha[:12]} vs working tree; outputs in {out}")
    with tempfile.TemporaryDirectory() as tmp:
        parent = os.path.join(tmp, "parent")
        subprocess.run(["git", "clone", "-q", HERE, parent], check=True)
        subprocess.run(["git", "-C", parent, "checkout", "-q", sha], check=True)
        for label, tree in (("parent", parent), ("change", HERE)):
            pkg = _dump(tree, os.path.join(out, label), names, DRIVER_MEMORY)
            print(f"{label} package: {pkg}", flush=True)
    parity = check(names, SFS)

    green = driver_green_rounds(impl_replaced={})
    blocked = blocked_updates(moved, green, _IMPL_REPLACED, _current_round())
    width = max(map(len, names))
    print(
        f"\n{'entry':<{width}}  plan   frame  {' '.join(SFS)}  oracle     "
        "_IMPL_REPLACED  plan diff"
    )
    failed = False
    for name in names:
        a, b = (os.path.join(out, label, name) for label in ("parent", "change"))
        plans = [normalize_plan(_read(p + ".plan")) for p in (a, b)]
        plan, diff = "same", ""
        if plans[0] != plans[1]:
            plan, diff = "moved", os.path.join(out, name + ".plan.diff")
            with open(diff, "w") as fh:
                fh.writelines(difflib.unified_diff(
                    plans[0].splitlines(True), plans[1].splitlines(True), "parent", "change"
                ))
        frame = pd.read_pickle(a + ".pkl").equals(pd.read_pickle(b + ".pkl"))
        sql = _read(a + ".sql") == _read(b + ".sql")
        checks = [parity[sf, name] for sf in SFS]
        failed |= not frame or any(c.startswith("MISMATCH") for c in checks)
        ledger = "no"
        if name in moved and name in green:
            ledger = "yes, MISSING" if name in blocked else "yes, present"
        print(
            f"{name:<{width}}  {plan:<5}  {'equal' if frame else 'DIFF':<5}  "
            f"{' '.join(f'{c.split()[0]:<{len(sf)}}' for c, sf in zip(checks, SFS))}  "
            f"{'identical' if sql else 'CHANGED':<9}  {ledger:<14}  {diff}"
        )
    _code_table(sha)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
