#!/usr/bin/env python
"""Explicit scratch-dir maintenance (round-8 ADVICE).

Snapshot builds never delete anything on the query path any more
(temp-dir + atomic rename only); superseded snapshot generations and
orphaned temp dirs are reaped HERE, with an age grace period so a
long-lived session lazily reading an old generation is never yanked.

Usage: python scripts/clean_scratch.py [grace_seconds]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from datastore_mapper_spark.queries.llm_text import (
        _SCRATCH_GRACE_SECONDS,
        clean_scratch,
    )

    grace = int(sys.argv[1]) if len(sys.argv) > 1 else _SCRATCH_GRACE_SECONDS
    removed = clean_scratch(grace)
    for d in removed:
        print(f"removed  {d}")
    print(f"{len(removed)} dirs removed (grace={grace}s)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
