package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.etl.SensorEtl
import graft.gates._

/** Driver contract (see /root/repo/SURVEY.md §7 and VERDICT.md).
  *
  * Every operator from SURVEY.md §2 plus the LLM-pipeline north-star ops
  * ships as a `queries` entry; every SQL-expressible one also ships a
  * DuckDB oracle in `oracleSql` (same column names both sides — the
  * driver's compare sorts columns by name and hashes values). The rows
  * themselves live in `graft.gates` split by operator family (r8 verdict
  * #7); this object is the thin driver-facing concatenation, and
  * GateRegistrySpec pins that family key sets never collide and every
  * oracle key has a query.
  *
  * Determinism contract for oracle-checked queries: double sums/means go
  * through DECIMAL casts (order-independent), pivots use fixed value
  * lists with max (not first), rankings always carry a unique tiebreak
  * column, and float similarity ranks order on round(cos, 6). See
  * `graft.operators` package doc.
  */
object SparkEntry {

  /** Flagship query (reference-parity ETL spine with first-ignoreNulls
    * pivot, `/root/reference/sensor_data_etl.py:57-92`) on sf=0.001;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    SensorEtl.flagship(spark, "/root/testdata/sf0.001")

  /** Every family's gate rows, one entry per implemented operator from
    * SURVEY.md §2 + north-star. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalGates.queries ++
    AnalyticsGates.queries ++
    WindowGates.queries ++
    EtlGates.queries ++
    TextGates.queries ++
    DedupGates.queries ++
    SimilarityGates.queries ++
    MediaGates.queries ++
    StreamingGates.queries ++
    MlGates.queries

  /** DuckDB oracles, one per entry of [[queries]]: each replays its gate
    * in SQL so the driver compares the rows hash-exactly
    * (GateRegistrySpec pins one oracle per query). */
  val oracleSql: Map[String, String] =
    RelationalGates.oracles ++
    AnalyticsGates.oracles ++
    WindowGates.oracles ++
    EtlGates.oracles ++
    TextGates.oracles ++
    DedupGates.oracles ++
    SimilarityGates.oracles ++
    MediaGates.oracles ++
    StreamingGates.oracles ++
    MlGates.oracles

  /** The family registry itself, for the registry spec. */
  private[graft] val families: Seq[(String, Map[String, (SparkSession, String) => DataFrame], Map[String, String])] = Seq(
    ("RelationalGates", RelationalGates.queries, RelationalGates.oracles),
    ("AnalyticsGates", AnalyticsGates.queries, AnalyticsGates.oracles),
    ("WindowGates", WindowGates.queries, WindowGates.oracles),
    ("EtlGates", EtlGates.queries, EtlGates.oracles),
    ("TextGates", TextGates.queries, TextGates.oracles),
    ("DedupGates", DedupGates.queries, DedupGates.oracles),
    ("SimilarityGates", SimilarityGates.queries, SimilarityGates.oracles),
    ("MediaGates", MediaGates.queries, MediaGates.oracles),
    ("StreamingGates", StreamingGates.queries, StreamingGates.oracles),
    ("MlGates", MlGates.queries, MlGates.oracles),
  )
}
