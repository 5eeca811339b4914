"""Shared similarity-threshold constants, registration-free.

Lives outside dedup.py so modules that need the SAME shingle/threshold
configuration (mining.py's prefix join, pipeline.py) can import it
WITHOUT triggering dedup's query registrations — the registry import
order in plans/__init__.py is load-bearing for the driver's sampling
budget, and a cross-module constant import must not reorder it.

The MinHash-LSH shape (5-char shingles, 128 permutations in 16 bands ×
8 rows) is defined in ``dedup/minhash.py`` and re-exported here, so
plan modules and the SQL oracles import one configuration from one
place. ``dedup/minhash.py`` must never import this package: that runs
``plans/__init__``, which imports ``mining.py``, which imports
``dedup.minhash`` at module level.
"""

from ..dedup.minhash import N_BANDS, N_PERM, ROWS_PER_BAND, SHINGLE_K  # noqa: F401

JACCARD_THRESHOLD = 0.7
