"""Operator-level helpers re-expressing the reference's executor nodes
(src/backend/executor/node*.c) on Spark DataFrames.

Most reference plan nodes map 1:1 onto built-in DataFrame operations and
need no code (SURVEY.md §2); this package holds the ones that don't:

  recursive   — RecursiveUnion (nodeRecursiveunion.c): driver-side fixpoint
  joins       — LASJ_NOTIN null semantics, as-of / range join compositions
  aggregate   — ordered-set aggs (orderedsetaggs.c), mode, pivot helpers,
                linear_interpolate (interpolate.c)
  tablefunc   — TableFunction over ANYTABLE with SCATTER BY
                (nodeTableFunction.c) via repartition + mapInPandas
  motion      — Motion-node parity API (nodeMotion.c): gather /
                redistribute, as partitioning operations
"""
