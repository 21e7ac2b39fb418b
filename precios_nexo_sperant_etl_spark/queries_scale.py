"""Beyond-reference scale-operator queries (BASELINE.json north star):
dedup, similarity search, text analysis, multimodal plumbing, event-time
windows — each with a DuckDB oracle built on the same portable hash folds.

The DuckDB snippets mirror the Spark expressions *structurally* (same
fold order, same modulus, same slicing) so double/hash results are
bit-identical — see functions/exact.py for why order matters.

This module is the ORDER-PRESERVING LOADER for the family: the
implementation lives in queries_scale_part1..4 (split in r9 when the
single file passed 14k lines — VERDICT r8 item 6), and importing the
parts in this exact sequence reproduces the original registration
order byte-for-byte (pinned by the golden-order test). Shared helpers
are in queries_scale_common.py; import a helper from the module that
defines it.
"""

from . import queries_scale_part1  # noqa: F401
from . import queries_scale_part2  # noqa: F401
from . import queries_scale_part3  # noqa: F401
from . import queries_scale_part4  # noqa: F401
