#!/usr/bin/env python
"""Registry lint: every SEQUENCE(1, <expr>) whose upper bound can go
below 1 must be inside an IF/CASE total-expression guard.

Spark's ``SEQUENCE(1, 0)`` is the DESCENDING ``[1, 0]`` (and
``SEQUENCE(1, -1)`` is ``[1, 0, -1]``), not the empty array DuckDB's
``GENERATE_SERIES(1, 0)`` produces. Three distinct failure modes
shipped before this lint existed (all surfaced only at sf1, where the
derived corpus contains an empty doc and several 1-token docs):

* ``ELEMENT_AT(arr, i)`` / ``TRY_ELEMENT_AT(arr, i)`` with ``i = 0``
  throws INVALID_INDEX_OF_ZERO — try_ only suppresses out-of-bounds,
  not index zero (q249, pre-round-7).
* ``SLICE(arr, i, n)`` with ``i <= 0`` throws
  INVALID_PARAMETER_VALUE.START, and SLICE has no try_ variant
  (q189, pre-round-7).
* Total consumers (``SUBSTR``) silently emit PHANTOM ROWS for the
  descending indices — the worst mode: no error, wrong answer
  (q459, pre-round-7).

A ``WHERE SIZE(...) >= k`` guard is NOT a fix: Catalyst's
InferFiltersFromGenerate derives ``size(<gen expr>) > 0`` from an
EXPLODE and merges it into the SAME Filter node as the hand-written
guard, so the generator expression still evaluates on guarded-out
rows whenever the optimizer orders the inferred predicate first.
The only robust shape is a TOTAL expression:

    IF(SIZE(t) >= k, TRANSFORM(SEQUENCE(1, SIZE(t)-k+1), ...), ARRAY())

which short-circuits per row regardless of predicate ordering.

What this lint checks, for every registry query's engine-side SQL
text (engine_sql, else the shared oracle text):

1. find every ``SEQUENCE(1, <upper>)`` occurrence (comments stripped,
   balanced-paren argument parse);
2. classify the upper bound: a literal >= 1, or ``GREATEST(..., c)``
   with c >= 1, can never descend — skip;
3. otherwise (any SIZE()/LENGTH() arithmetic that can go below 1 on a
   degenerate doc) require an enclosing ``IF(`` / ``CASE`` within the
   same expression nesting — i.e. the SEQUENCE call must appear
   inside the THEN-branch of a conditional. Texts that fail are
   violations.

The detection of "inside an IF/CASE" is lexical but nesting-aware: we
walk back from the SEQUENCE call through enclosing open parens and
accept if any enclosing call is IF( or CASE. That matches the
canonical fix shape above and is immune to comment/whitespace noise.

Run: ``python tools/lint_descending_sequence.py`` (exits 1 on
violations). Wired into tests/test_plans.py so CI trips on
regressions.
"""

from __future__ import annotations

import os
import re
import sys


def _strip_comments(sql: str) -> str:
    return re.sub(r"--[^\n]*", "", sql)


def _enclosing_calls(text: str, pos: int) -> list[str]:
    """Names of the function calls lexically enclosing position pos."""
    depth = 0
    names: list[str] = []
    i = pos - 1
    while i >= 0:
        c = text[i]
        if c == ")":
            depth += 1
        elif c == "(":
            if depth == 0:
                m = re.search(r"([A-Za-z_]+)\s*$", text[:i])
                names.append(m.group(1).upper() if m else "")
            else:
                depth -= 1
        i -= 1
    return names


def _upper_bound_arg(text: str, seq_start: int) -> str:
    """The second argument of the SEQUENCE( call starting at seq_start."""
    i = text.index("(", seq_start) + 1
    depth = 0
    args: list[str] = []
    cur = []
    while i < len(text):
        c = text[i]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                args.append("".join(cur))
                break
            depth -= 1
        elif c == "," and depth == 0:
            args.append("".join(cur))
            cur = []
            i += 1
            continue
        cur.append(c)
        i += 1
    return args[1].strip() if len(args) >= 2 else ""


def _can_descend(upper: str) -> bool:
    """True when the upper bound can evaluate below 1."""
    u = upper.strip().upper()
    if re.fullmatch(r"\d+", u):
        return int(u) < 1
    m = re.fullmatch(r"GREATEST\s*\((.*)\)", u, re.S)
    if m:
        # GREATEST(..., c) with any literal arm >= 1 can't descend
        for arm in re.split(r",(?![^()]*\))", m.group(1)):
            arm = arm.strip()
            if re.fullmatch(r"\d+", arm) and int(arm) >= 1:
                return False
        return True
    # SIZE(SPLIT(x, ' ')) alone is always >= 1 (split of '' is ['']),
    # so a bare SIZE with no subtraction can't descend
    if re.fullmatch(r"SIZE\s*\(.*\)", u, re.S) and "-" not in u:
        return False
    return True


def scan_text(name: str, sql: str) -> list[str]:
    text = _strip_comments(sql)
    violations = []
    for m in re.finditer(r"\bSEQUENCE\s*\(\s*1\s*,", text, re.I):
        upper = _upper_bound_arg(text, m.start())
        if not _can_descend(upper):
            continue
        enclosing = _enclosing_calls(text, m.start())
        if "IF" in enclosing:
            continue
        # also accept a CASE WHEN ... THEN <sequence> shape: an
        # unclosed CASE lexically before the call
        head = text[:m.start()].upper()
        if head.count(" CASE ") + head.count("(CASE ") > head.count(" END"):
            continue
        violations.append(
            f"{name}: SEQUENCE(1, {upper!r}) can descend and has no "
            f"enclosing IF/CASE (enclosing calls: {enclosing[:4]})")
    return violations


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from shredder_spark import queries as queries_mod

    reg = queries_mod.registry()
    all_violations: list[str] = []
    n_checked = n_sites = 0
    for name in sorted(reg):
        q = reg[name]
        sql = getattr(q, "engine_sql", None) or getattr(q, "oracle", None)
        if not sql:
            continue
        n_checked += 1
        n_sites += len(re.findall(r"\bSEQUENCE\s*\(\s*1\s*,",
                                  _strip_comments(sql), re.I))
        all_violations.extend(scan_text(name, sql))
    print(f"checked {n_checked} texts, {n_sites} SEQUENCE(1, ·) sites")
    if all_violations:
        print("VIOLATIONS:")
        for v in all_violations:
            print(" ", v)
        return 1
    print("0 violations")
    return 0


if __name__ == "__main__":
    sys.exit(main())
