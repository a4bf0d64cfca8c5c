"""Hot-key census + salting decision (SURVEY.md §2 ops 25/73).

AQE's skew handling only splits skewed *join* partitions; the LWW
ranking **window** and the bucket-clustered **write** need explicit
salting (SURVEY.md §4).  Three pieces:

- write-side salt: lake/write.py::write_salt, clamp(cores // buckets,
  1, 8) (``STELLAR_WRITE_SALT`` overrides it) — each bucket's rows fan
  out across that many tasks.  At 1 (e.g. 16 buckets on 4 cores) the
  write is unsalted and the fused single-exchange plan runs.
- resolve-side salt: two-phase window (cdc/resolve.py) — an extra
  shuffle, so it is gated by this census.
- census: the RUNNER's census is free — it observes ``max(row_number)``
  on the LWW window itself (cdc/resolve.py ``rn_observation``) and
  decides the NEXT epoch's salting from it (skew persists across
  adjacent batches), so ``salts="auto"`` costs no extra scan.
"""

from __future__ import annotations

#: keys whose estimated per-batch mutation count exceeds this trigger salting
DEFAULT_HOT_THRESHOLD = 100_000
#: two-phase fan-out when salting engages
DEFAULT_SALTS = 32
