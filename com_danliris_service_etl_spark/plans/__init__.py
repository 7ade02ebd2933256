"""Declarative query/job plans.

- `registry`: the driver-facing registry — every SURVEY.md §2 operator as
  a (spark_fn, oracle_sql) pair over the standard test tables.
  `load_all()` imports the family modules that register them.
- `queries_<family>`: one module per operator family, owning every query
  whose name carries that family's prefix — `relational` (p, o, u, e),
  `scalars` (d, m, t, x), `aggregates` (a), `joins` (j), `windows` (w),
  `warehouse` (s), `quality` (q, pv), `sketches` (sk), `streaming` (st),
  `graph` (g), `text` (txt), `dedup` (dd), `similarity` (sim) and `llm`
  (llm, pk, mm).
- `jobs`: the reference's 22-job pipeline shape (watermark → extract →
  join → transform → merge-load) as a declarative JobSpec runner.
- `schedule`: the nightly DAG over those jobs; `http_trigger`: the
  on-demand trigger surface.
"""
