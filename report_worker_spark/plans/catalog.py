"""Named query catalog — the driver contract (SURVEY §2 inventory).

Every operator from the reference inventory is a named query over the
driver testdata, paired with an ANSI-SQL oracle twin executed by DuckDB
on the same parquet. The testdata→reference entity mapping is
FIXTURES.md §5: ``events`` stands in for the Kafka report stream,
``customer``/``supplier`` for the Players dim, ``lineitem`` for the
wide fact.

Oracle-parity rules used throughout:
- every computed column aliased identically on both sides;
- counts are BIGINT/long on both sides;
- ratios/cosines are raw IEEE float64 ops with identical evaluation
  order (bit-reproducible) — no rounding games;
- rank-mode surrogate keys (dense_rank over natural key, NULLS FIRST)
  instead of hash keys so DuckDB can reproduce them;
- deterministic top-k: row_number with a full tiebreak.
"""


from __future__ import annotations

from ._qshared import *  # noqa: F401,F403
from .q_relational import *  # noqa: F401,F403
from .q_olap import *  # noqa: F401,F403
from .q_text import *  # noqa: F401,F403
from .q_dedup import *  # noqa: F401,F403
from .q_embeddings import *  # noqa: F401,F403
from .q_multimodal import *  # noqa: F401,F403
from .q_timeseries import *  # noqa: F401,F403
from .q_curation import *  # noqa: F401,F403
from .q_stats import *  # noqa: F401,F403
from .q_graph import *  # noqa: F401,F403
from .q_audit import *  # noqa: F401,F403
