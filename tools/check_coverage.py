"""Audit SURVEY.md §2 Part B against the live registry: every `Qxx`
cited in a Verify column must exist in `queries()`, and every registry
entry must be cited somewhere — catches doc/code drift each round.
Exit code 1 on any gap."""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from shredder_spark import queries as Q


def main() -> int:
    survey = open(os.path.join(ROOT, "SURVEY.md")).read()
    section = survey[survey.index("### Part B"):survey.index("\n## 3.")]
    # only table rows carry Verify citations (headings cite historical
    # ranges like "Q01-Q51" that are intentionally sparse)
    part_b = "\n".join(l for l in section.splitlines() if l.startswith("|"))
    cited = {f"q{m.lower()}" for m in re.findall(r"Q(\d{2,3}[a-c]?)", part_b)}
    # expand range citations like "Q83–Q86"
    for lo, hi in re.findall(r"Q(\d{2,3})[–-]Q?(\d{2,3})", part_b):
        cited |= {f"q{i:02d}" for i in range(int(lo), int(hi) + 1)}
    reg = set()
    for name in Q.registry():
        m = re.match(r"q(\d+[a-c]?)_", name)
        reg.add(f"q{m.group(1)}")

    missing_impl = sorted(c for c in cited if c not in reg)
    uncited = sorted(r for r in reg if r not in cited)
    if missing_impl:
        print("cited in SURVEY but NOT in registry:", missing_impl)
    if uncited:
        print("in registry but NOT cited in SURVEY:", uncited)

    # README's registry-range line must match the live registry's max
    # query number (this is what drifted in rounds 2-3)
    hi = max(int(re.match(r"q(\d+)", n).group(1)) for n in Q.registry())
    readme = open(os.path.join(ROOT, "README.md")).read()
    # anchor on the word "registry" near the range so an unrelated
    # q01–<n> mention elsewhere can't satisfy the check while the
    # actual registry line goes stale (round-6 ADVICE)
    m = re.search(r"registry\s*\([Qq]01–[Qq]?(\d+)", readme)
    if not m or int(m.group(1)) != hi:
        print(f"README registry range stale: says Q{m.group(1) if m else '?'}"
              f", registry ends at q{hi}")
        return 1

    if not missing_impl and not uncited:
        print(f"coverage OK: {len(reg)} registry queries all cited; "
              f"{len(cited)} citations all implemented")
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
