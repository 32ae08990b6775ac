"""dedupe_algo_spark — PySpark-native record-linkage / dedup analytics engine.

A from-scratch re-expression of the capabilities of the reference
``rishabh0504/dedupe-algo`` (a Tauri desktop duplicate-file finder whose
analytics core is a 3-pass cheap-key → partial-hash → full-hash cascade,
/root/reference/src-tauri/src/lib.rs:30-182), generalized to web-scale
dedup over Common-Crawl-style page tables per BASELINE.json:

- pass 1: blocking by one key, 32 OPH MinHash LSH bands over one
  representative per distinct text — reference pass 1 groups by file
  size (lib.rs:54-58)
- pass 2: exact-duplicate grouping on JVM ``sha2`` SHA-256 content
  hashes computed map-side — reference passes 2/3 (lib.rs:83-160)
- pass 3: near-duplicate pair scoring (MinHash band-collision gate,
  then an exact token-Jaccard confirm) + transitive clustering via
  iterative large-star/small-star connected components

Everything is built on the public PySpark DataFrame/SQL API; custom logic
is vectorized pandas/Arrow UDFs (never row-at-a-time Python).
"""

__version__ = "0.1.0"
