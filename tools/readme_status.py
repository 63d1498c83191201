#!/usr/bin/env python3
"""Rewrite README.md's generated status block from the newest committed
driver artifacts, VERBATIM — so the quoted figures can never drift from
the artifacts again (they did in r13 and r14).

Usage: python3 tools/readme_status.py
Reads the newest BENCH_r<N>.json and CORRECTNESS_r<N>.json (highest N;
suffixed variants such as BENCH_r17_c8.json are other core counts and
are skipped) and rewrites the block between the STATUS:BENCH markers in
README.md.
"""
import ast
import json
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BEGIN = "<!-- STATUS:BENCH -->"
END = "<!-- /STATUS:BENCH -->"


def newest(prefix):
    """(round, path) of the highest-numbered `<prefix>_r<N>.json`."""
    rx = re.compile(rf"{prefix}_r(\d+)\.json")
    found = [(int(m.group(1)), p) for p in ROOT.glob(f"{prefix}_r*.json")
             if (m := rx.fullmatch(p.name))]
    if not found:
        raise SystemExit(f"no {prefix}_r<N>.json in {ROOT}")
    return max(found)


def as_dict(v):
    """Artifact records are JSON objects or Python-repr strings."""
    return ast.literal_eval(v) if isinstance(v, str) else v


def main():
    rb, bench_path = newest("BENCH")
    bench = json.loads(bench_path.read_text())
    b = as_dict(bench["parsed"])
    total, n = b["value"], b["n_queries"]
    cpus, sf, reps = bench["cpus"], bench["sf"], b.get("reps", 1)
    rc, corr_path = newest("CORRECTNESS")
    corr = {k: as_dict(v)
            for k, v in json.loads(corr_path.read_text()).items()}
    passed = sum(all(r.get(c) for c in
                     ("rows_match", "schema_match", "hash_match"))
                 for r in corr.values())
    block = (
        f"{BEGIN}\n"
        f"`{corr_path.name}`: {len(corr)} registered queries, "
        f"{passed}/{len(corr)} pass all three checks (rows + schema + "
        f"hash). `{bench_path.name}`: {total} s total over {n} queries "
        f"(sf{sf}, local[{cpus}], median of {reps}) = {total / n:.3f} "
        f"s/query.\n"
        f"{END}"
    )
    readme = (ROOT / "README.md").read_text()
    pat = re.compile(re.escape(BEGIN) + r".*?" + re.escape(END), re.DOTALL)
    if not pat.search(readme):
        raise SystemExit("STATUS:BENCH markers not found in README.md")
    (ROOT / "README.md").write_text(pat.sub(lambda _: block, readme))
    print(block)


if __name__ == "__main__":
    main()
