"""Content hash of the engine's runtime surface (ADVICE r7 #5 /
VERDICT r7 #6): evidence artifacts (bench JSON, the sf1 report,
perfbench records) stamp this hash at generation time, so a reader
can tell which tree produced them. Content-based, so it survives
clones (file mtimes do not) and sees uncommitted edits (git log does
not).
"""

from __future__ import annotations

import hashlib
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the runtime surface whose change invalidates sweep/bench evidence
_ROOTS = ("dbt_eamples_spark",)
_FILES = ("__spark_entry__.py", "bench.py")


def engine_tree_hash() -> str:
    h = hashlib.sha256()
    paths: list[str] = [os.path.join(REPO, f) for f in _FILES]
    for root in _ROOTS:
        for dirpath, dirnames, filenames in os.walk(
            os.path.join(REPO, root)
        ):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            paths.extend(
                os.path.join(dirpath, f)
                for f in filenames
                if f.endswith(".py")
            )
    for p in sorted(paths):
        rel = os.path.relpath(p, REPO)
        h.update(rel.encode())
        h.update(b"\0")
        with open(p, "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    return h.hexdigest()[:16]


if __name__ == "__main__":
    print(engine_tree_hash())
