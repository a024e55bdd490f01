"""pdf_extract_sys_spark — a PySpark-native main-content extraction engine.

A from-scratch, Spark-first rebuild of the per-document extraction semantics of
``Sheikh-JamirAlam/pdf-extract-sys`` (reference: ``backend/app/main.py``), re-expressed
as a distributed batch dataflow over tables of interleaved text + media documents:

    corpus(doc_id STRING,
           spans ARRAY<STRUCT<kind STRING, text STRING, media_ref STRING, offset INT>>)

Hot-path compute is 100% vectorized pandas/Arrow inside ``mapInArrow`` (plus one
Arrow ``pandas_udf`` for the mega-doc classifier) — no per-row Python anywhere in
the Spark plan (the extraction plan contains only ``MapInArrow`` /
``ArrowEvalPython`` nodes, never ``BatchEvalPython``).

Modules:
  - ``schema``        — explicit StructTypes for corpus / checkpoint / metrics tables
  - ``kernels.*``     — pure-pandas vectorized extraction kernels (unit-testable, no Spark)
  - ``extract``       — per-Arrow-batch orchestration of the kernels + sentinel totality
  - ``pipeline``      — the Spark plan: partitioning, mega-doc salting, reassembly
  - ``checkpoint``    — checkpoint table, driver-side resume, per-partition lineage+metrics
  - ``corpus``        — deterministic synthetic corpus generator (fixtures + bench slices)
  - ``job``           — spark-submit entrypoint
"""

__version__ = "0.1.0"
