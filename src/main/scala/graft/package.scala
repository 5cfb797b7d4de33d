/** graft — a Spark-native analytics engine with the capabilities of
  * the jfgreen/discogs-xml-to-parquet reference, extended into a
  * general, oracle-checked query/data-processing surface.
  *
  * Map of the library (see README.md for the full coverage matrix):
  *
  *  - [[graft.etl.DiscogsReleases]] — the reference pipeline itself:
  *    gzipped releases XML → Snappy Parquet with the reference's exact
  *    schema and null/rename semantics (SURVEY.md §2.1).
  *  - [[graft.ops]] — the query surface. Every operator is a
  *    [[graft.ops.Q]]: a Spark implementation plus, when
  *    SQL-expressible, DuckDB oracle SQL kept in lockstep (column
  *    names, arithmetic, tie-breaks). [[graft.ops.D]] documents the
  *    cross-engine floating-point determinism rules.
  *  - [[graft.functions]] — text/hash primitives (tokens, shingles,
  *    MinHash, SimHash) and native Catalyst code
  *    ([[graft.functions.DotProduct]] with codegen,
  *    [[graft.functions.TopKAggregator]]).
  *  - [[graft.plans]] — optimizer extensions
  *    ([[graft.plans.RewriteHofDotProduct]]).
  *  - [[graft.streaming]] — Structured Streaming: unified batch/stream
  *    windows, stateful ops, stream-stream joins, streaming dedup.
  *  - [[graft.Engine]] — the user-facing facade;
  *    [[graft.GraftSession]] — the session contract: one session
  *    builder, and the one table of native functions, planner strategy
  *    and optimizer rule, installed through [[graft.GraftExtensions]]
  *    (`spark.sql.extensions`) or `GraftSession.install`.
  *  - [[graft.SparkEntry]] / [[graft.Verify]] / [[graft.Bench]] — the
  *    driver contract (flagship query, correctness dump, benchmark).
  */
package object graft
