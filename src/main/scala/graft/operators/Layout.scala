package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators (SURVEY §2.9 X3 + the 100 TB playbook the
  * reference lacked): keyed repartitioning, bucketed co-located joins,
  * and salted skew joins. The reference hand-tuned magic
  * `repartition(20/50/100/200)` constants; these helpers encode the
  * *reasons* one reshapes data instead.
  */
object Layout {

  /** Keyed repartition (hash, not round-robin): co-locates rows by join/agg
    * key so the next keyed operation is exchange-free. Prefer this over the
    * reference's bare `repartition(n)` — round-robin buys parallelism but
    * destroys co-location. */
  def repartitionByKey(df: DataFrame, n: Int, keys: Column*): DataFrame =
    df.repartition(n, keys: _*)

  /** Write a table bucketed+sorted by key. Reading both sides back from
    * bucketed tables makes equi-joins exchange-free (SortMergeJoin with no
    * Exchange) — at 100 TB this is THE way to amortize a fact table's
    * shuffle across every downstream join. Requires a metastore table
    * (saveAsTable), not a bare path. */
  def writeBucketed(df: DataFrame, table: String, nBuckets: Int, key: String,
      sortCols: Seq[String] = Nil, path: Option[String] = None): Unit = {
    val w0 = df.write.mode("overwrite").format("parquet")
    val w = path.fold(w0)(p => w0.option("path", p)).bucketBy(nBuckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Write partitioned parquet (one directory per key value). At 100 TB
    * this is the other half of the layout story next to bucketing:
    * queries filtering on the partition key prune whole directories
    * before any IO (PartitionFilters in the scan, see LayoutSpec). */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Z-order (Morton) interleave of two bounded non-negative int columns
    * — the multi-dimensional clustering key behind lakehouse OPTIMIZE
    * ZORDER: sorting by the interleaved bits keeps rows close in BOTH
    * dimensions physically adjacent, so min/max column statistics prune
    * files for predicates on EITHER dimension (a single-column sort only
    * prunes its own column). Pure codegen'd shift/mask/add expressions
    * over `bits` bit positions — exact integer math, fully oracle-able.
    * Inputs must already be in [0, 2^bits); callers bucket/pmod first. */
  def zvalue(x: Column, y: Column, bits: Int = 12): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduceLeft(_ + _)

  /** Range-partition + locally sort by the z-value: the write layout for
    * a table queried by two selective dimensions. Each output partition
    * covers a contiguous z-range = a bounded rectangle union in (x, y),
    * so each file's (x, y) min/max footprint is small — LayoutSpec
    * measures the bounding-box shrinkage vs a hash layout. */
  def zorderLayout(df: DataFrame, n: Int, zCol: String): DataFrame =
    df.repartitionByRange(n, col(zCol)).sortWithinPartitions(zCol)

  /** Salted inner equi-join for skewed keys: explode the small/dim side
    * into `salt` replicas, scatter the fact side's hot keys uniformly with
    * a random-free deterministic salt (hash of a unique column), join on
    * (key, salt). Turns one straggler partition into `salt` even ones.
    * AQE's skew-join handles moderate skew automatically; salting is for
    * the pathological keys AQE can't split (single-key hot spots in
    * aggregations that follow). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, uniqueCol: String,
      salt: Int = 8): DataFrame = {
    val saltedFact = fact.withColumn("__salt", pmod(hash(col(uniqueCol)), lit(salt)))
    val saltedDim = dim
      .withColumn("__salt", explode(array((0 until salt).map(lit): _*)))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }

  /** Salted EXACT distinct count per (skewed, low-cardinality) key.
    * `count_distinct(u) GROUP BY key` shuffles every (key, u) pair to the
    * single reducer owning `key` — with a handful of hot keys (the events
    * table's event_type) that is one straggler task per key no matter how
    * wide the cluster is. Salting by `pmod(hash(u), salt)` splits each
    * key's distinct-set across `salt` reducers; because every distinct
    * `u` hashes to exactly ONE salt bucket, the per-bucket distinct
    * counts are disjoint and their sum is the exact answer — the
    * rewrite stays semantics-free (the oracle pins it against a plain
    * COUNT(DISTINCT)). Phase 2 shuffles only keys × salt rows. This is
    * the aggregation twin of [[saltedJoin]]: the pattern for the
    * single-hot-key aggregations AQE's skew handling cannot split. */
  def saltedDistinctCount(df: DataFrame, key: String, uniqueCol: String,
      salt: Int = 32): DataFrame =
    df.groupBy(col(key), pmod(hash(col(uniqueCol)), lit(salt)).as("__salt"))
      .agg(count_distinct(col(uniqueCol)).as("__part"))
      .groupBy(col(key))
      .agg(sum(col("__part")).as("n_distinct"))

  /** q_partition_prune gate: write events PARTITIONED by calendar date
    * (the canonical 100 TB fact layout — one directory per day), then
    * read back with a static first-week date predicate that must resolve
    * as directory pruning (PartitionFilters in the scan — LayoutSpec
    * asserts it; only ~7 of the ~30 day directories are ever opened) and
    * aggregate per (day, type). The pruning literal is computed from a
    * 1-row min aggregate (bounded driver probe, the same class as the
    * quantile/threshold probes) because a STATIC literal is exactly what
    * makes the filter a partition filter rather than a runtime one. The
    * oracle recomputes the same week bound in SQL over the raw table, so
    * the round trip proves the partitioned layout changes IO, not
    * answers. */
  def partitionPrunedDaily(s: SparkSession, d: String): DataFrame = {
    val path = eventsByDatePath(s, d)
    val ev = graft.Tables.events(s, d)
      .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
    val minDate = ev.agg(min(col("event_date"))).head.getString(0)
    val cutoff = java.time.LocalDate.parse(minDate).plusDays(6).toString
    s.read.parquet(path)
      .where(col("event_date") <= cutoff)
      .groupBy(col("event_date").cast("string").as("event_date"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("value_sum"))
  }

  /** q_bucket_join gate: two per-user aggregates written as BUCKETED
    * tables (8 buckets on user_id, external paths under scratch), then
    * equi-joined back. Because both sides carry the same bucketing, the
    * SortMergeJoin needs NO Exchange — the layout amortizes the fact
    * table's shuffle across every downstream keyed join, which at 100 TB
    * is the single biggest shuffle saving available (LayoutSpec asserts
    * the exchange-free plan; the merge hint keeps the planner on the
    * bucket-aware SMJ path instead of broadcasting the small gate-scale
    * side). Oracle = the same two aggregates joined in SQL: bucketing
    * must change the plan, never the rows. */
  def bucketJoin(s: SparkSession, d: String): DataFrame = {
    val tag = d.replaceAll("[^a-zA-Z0-9]", "_")
    val base = graft.Scratch.dir(s"bucket_$d")
    val ev = graft.Tables.events(s, d)
    val clicks = ev.where(col("event_type") === "click")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_clicks"), exactSum(col("value")).as("click_sum"))
    val others = ev.where(col("event_type") =!= "click")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_other"))
    writeBucketed(clicks, s"graft_clicks_$tag", 8, "user_id",
      Seq("user_id"), Some(s"$base/clicks"))
    writeBucketed(others, s"graft_others_$tag", 8, "user_id",
      Seq("user_id"), Some(s"$base/others"))
    s.table(s"graft_clicks_$tag")
      .join(s.table(s"graft_others_$tag").hint("merge"), Seq("user_id"))
      .select(col("user_id"), col("n_clicks"), col("click_sum"), col("n_other"))
  }

  /** q_salted_join gate: [[saltedJoin]] as a first-class oracled query —
    * events joined to the per-type stats dim on (event_type, salt) with a
    * 16-way deterministic salt, so the five hot event_type keys scatter
    * across 80 reducers instead of 5 stragglers. The merge hint keeps the
    * planner on the shuffled path at gate scale (a broadcast would hide
    * the salted hashpartitioning the operator exists to produce — at
    * 100 TB the dim side is a per-key aggregate too big to broadcast).
    * The oracle is the plain unsalted join: salting must be
    * semantics-free. */
  def saltedTypeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select("event_id", "event_type", "value")
    val dim = ev.groupBy("event_type")
      .agg(count(lit(1)).as("type_n"), exactAvg(col("value")).as("type_mean"))
    saltedJoin(ev, dim.hint("merge"), "event_type", "event_id", salt = 16)
      .select(col("event_id"), col("event_type"), col("value"),
        col("type_n"), col("type_mean"),
        (col("value") - col("type_mean")).as("dev_from_mean"))
  }

  /** One-per-JVM staging of events partitioned by calendar date — the
    * shared fact layout for [[partitionPrunedDaily]] (static pruning) and
    * [[dppJoin]] (dynamic pruning). Guarded like the streaming late-drop
    * staging: bench reps in one JVM reuse the committed write instead of
    * re-shuffling the fact table every rep. */
  private def eventsByDatePath(s: SparkSession, d: String): String = {
    val path = graft.Scratch.dir(s"part_$d") + "/events_by_date"
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      val ev = graft.Tables.events(s, d)
        .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
      writePartitioned(
        ev.select("event_id", "user_id", "event_type", "value", "event_date"),
        path, "event_date")
    }
    path
  }

  /** q_dpp gate: DYNAMIC partition pruning — the runtime half of the
    * pruning story next to [[partitionPrunedDaily]]'s static literal.
    * The fact side is the date-partitioned events layout; the dim side is
    * "busy days" (calendar dates whose event count clears half the mean
    * daily volume) — a predicate over an AGGREGATE of the raw table, so
    * no static rewrite can turn it into a directory filter: the qualifying
    * dates exist only at runtime. Spark's PartitionPruning rule inserts a
    * DynamicPruningExpression into the fact scan's PartitionFilters
    * (LayoutGatesSpec asserts it), reusing the dim's broadcast exchange as
    * the IN-set — at 100 TB this is the mechanism that turns
    * "fact JOIN filtered_dim" from a full-table scan into reading only
    * the matching day directories, with zero query rewrite. The cutoff
    * is a bounded 1-row driver probe (the same class as the sibling's
    * min-date probe) made LITERAL on purpose: the lazy-broadcast scalar
    * variant dissolves into a cross-join CONDITION during optimization,
    * and PartitionPruning only recognizes a dim side that still carries
    * a selective Filter NODE — with the literal, the filter sits above
    * the aggregate (not statically pushable to the fact: which dates
    * qualify still exists only at runtime) and the rule fires. Oracle
    * recomputes the same half-mean bound in SQL: layout + runtime
    * pruning must change IO, never answers. */
  def dppJoin(s: SparkSession, d: String): DataFrame = {
    val fact = s.read.parquet(eventsByDatePath(s, d))
    // DATE-typed dim key: the partitioned read infers event_date as DATE,
    // and the fact-side join key must stay the bare partition attribute
    // (a cast on the fact key would disqualify the pruning)
    val days = graft.Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(count(lit(1)).as("n_day"))
    val halfMean = days.agg((sum(col("n_day")).cast("double") /
      (lit(2.0) * count(lit(1)))).as("half_mean")).head.getDouble(0)
    val busy = days
      .where(col("n_day").cast("double") >= halfMean)
      .select("event_date", "n_day")
    // broadcast(busy): at toy scale the PARTITIONED side is the smaller
    // one and the planner would build on it — which both kills the DPP
    // opportunity and inverts the 100 TB shape (a fact table is never
    // the build side). The hint pins the production direction and gives
    // the PartitionPruning rule the broadcast to reuse as its IN-set.
    fact.join(broadcast(busy), Seq("event_date"))
      .groupBy(date_format(col("event_date"), "yyyy-MM-dd").as("event_date"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("value_sum"),
        max(col("n_day")).as("n_day"))
  }

  /** q_bloom_join gate: RUNTIME BLOOM-FILTER pushdown — the row-level
    * sibling of [[dppJoin]]'s directory-level pruning, for the join keys
    * partitioning can't help (user_id is nobody's partition column).
    * Spark's InjectRuntimeFilter builds a Bloom filter over the
    * CREATION side's join keys (here: the heavy-purchaser dim, made
    * selective by its HAVING-style filter) and probes it on the
    * APPLICATION side BEFORE the join's shuffle — rows that cannot match
    * never leave the map side, which at 100 TB cuts the dominant
    * exchange by the dim's selectivity. The gate engages the rule at toy
    * scale by zeroing `applicationSideScanSizeThreshold` (simulating the
    * >10 GB fact scan that trips it in production) and pinning the merge
    * hint (a broadcast join would already skip the shuffle the filter
    * exists to shrink). Confs are restored after the frame is
    * materialized via eager localCheckpoint, so the session the bench
    * shares is untouched for every other query; the checkpoint is also
    * why the returned plan no longer shows the filter — LayoutGatesSpec
    * asserts `might_contain` on the pre-checkpoint plan. Oracle = the
    * plain join: a Bloom filter has no false negatives, so the rewrite
    * is semantics-free. */
  def bloomPrunedJoin(s: SparkSession, d: String): DataFrame =
    graft.Session.withConf(s, bloomConfs: _*)(bloomPrunedPlan(s, d).localCheckpoint(true))

  /** q_aqe_skew gate: AQE SKEW-JOIN SPLIT — the third runtime re-plan
    * mechanism next to [[dppJoin]] (directory pruning) and
    * [[bloomPrunedJoin]] (row pruning), and the AUTOMATIC half of the
    * skew story whose MANUAL half is [[saltedJoin]]: when a sort-merge
    * join's shuffle leaves one partition far above the median (here a
    * synthetic 70 %-hot key over the fact side), AQE's
    * OptimizeSkewedJoin splits the straggler partition into
    * advisory-size chunks at RUNTIME, from the actual map-output
    * statistics — no salting column, no query rewrite, no prior
    * knowledge of which key is hot. Salting remains the tool for the
    * keys AQE can't split (hot keys feeding a downstream AGGREGATION);
    * for plain joins this is the zero-code path a 100 TB plan takes
    * first. The gate engages the optimization at toy scale by lowering
    * the skew thresholds to fixture sizes (production defaults trip at
    * 256 MB partitions) and disabling size-based broadcast (a broadcast
    * join has no shuffle to skew); confs restore after the eager
    * checkpoint, and LayoutGatesSpec asserts `skew=true` in the
    * EXECUTED final adaptive plan. Oracle = the plain join aggregate:
    * runtime re-planning must change partitioning, never answers. */
  def aqeSkewJoin(s: SparkSession, d: String): DataFrame =
    graft.Session.withConf(s, aqeSkewConfs: _*)(aqeSkewPlan(s, d).localCheckpoint(true))

  /** The lazy plan [[aqeSkewJoin]] materializes (split out for the
    * spec's final-plan assertion): a 70 %-hot synthetic key joins the
    * fact rows to a 98-row generated dim through a hinted SMJ. Two
    * shape constraints OptimizeSkewedJoin imposes, both encoded here:
    * (a) the output is the ENRICHED ROWS, not a same-key
    * re-aggregation — the rule declines when the join's partitioning
    * is still required downstream (the split would force a re-shuffle;
    * a join feeding a same-key aggregate is [[saltedJoin]]'s case);
    * (b) BOTH join children must be Sort-over-shuffle-stage — the dim
    * is a `range`-generated key table with no aggregate (an agg
    * between the shuffle stage and the join hides that side from the
    * rule's pattern; a `repartition` after an agg gets optimized away
    * as redundant). */
  def aqeSkewPlan(s: SparkSession, d: String): DataFrame = {
    val skewKey = when(pmod(col("event_id"), lit(10)) < 7, lit("hot"))
      .otherwise(concat(lit("cold_"), pmod(col("event_id"), lit(97))))
    // round-robin pre-shuffle: AQE splits a skewed reduce partition at
    // MAP-BLOCK boundaries, and the one-file one-row-group fixture
    // reaches the keyed exchange from a SINGLE map task — one atomic
    // block, nothing to split (the rule then reports zero skew). A
    // 100 TB fact table reaches its join shuffle from thousands of map
    // tasks; the 16-way repartition restores that map-side shape.
    val fact = graft.Tables.events(s, d)
      .select(col("event_id"), col("value"), skewKey.as("skew_key"))
      .repartition(16)
    val dim = s.range(0, 98).select(
      when(col("id") === 0, lit("hot"))
        .otherwise(concat(lit("cold_"), col("id") - 1)).as("skew_key"),
      (col("id") * 10).as("dim_payload"))
    fact.join(dim.hint("merge"), Seq("skew_key"))
      .select(col("event_id"), col("skew_key"), col("value"),
        col("dim_payload"))
  }

  /** Confs that make OptimizeSkewedJoin act on fixture-sized shuffles:
    * skew detection = partition > factor × median AND > threshold —
    * production defaults (factor 5, 256 MB) never trip on a toy
    * shuffle (the sf0.001 hot partition is ~20 KB), so the gate scales
    * them to its own sizes; broadcast off because only a shuffle join
    * can skew. Restored after materialize, same contract as
    * [[bloomConfs]]. */
  val aqeSkewConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
    // the split target is silently clamped to coalesce minPartitionSize
    // (1 MB default) — a fixture-sized hot partition then yields ONE
    // piece and the rule reports zero skew; scale the clamp with the rest
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** Confs that let InjectRuntimeFilter fire at toy scale: enable the
    * feature, zero the application-side floor (simulating the >10 GB
    * fact scan), and disable size-based broadcast — the rule only
    * injects into PROBABLY-SHUFFLE joins (a broadcast join has no
    * exchange for the filter to shrink), and at gate scale everything
    * is broadcast-able by size. All three restored after materialize. */
  val bloomConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** TTL retention planner — the lifecycle report behind every
    * date-partitioned 100 TB table: under a `keepDays` policy anchored
    * at the corpus' own max day (deterministic — wall clock never
    * enters a gate query), classify each day partition as expired or
    * retained and carry the evidence a DROP PARTITION review needs
    * (row count, value sum, age in days). The plan is one groupBy(day)
    * over the fact — partition-level deletes then act on directory
    * names only, never rewriting surviving data; that is the entire
    * point of the date-partitioned layout [[partitionPrunedDaily]]
    * stages. Fully oracle-able (date arithmetic + integer counts). */
  def retentionPlan(s: SparkSession, d: String, keepDays: Int = 21): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .withColumn("day", to_date(col("ts")))
    val days = ev.groupBy("day")
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("value_sum"))
    val anchor = days.agg(max(col("day")).as("max_day"))
    days.crossJoin(broadcast(anchor))
      .withColumn("age_days", datediff(col("max_day"), col("day")))
      .select(col("day"), col("n"), col("value_sum"), col("age_days"),
        (col("age_days") >= keepDays).as("expired"))
  }

  /** Small-file compaction planner over the date-partitioned layout —
    * the other standing maintenance job next to [[retentionPlan]]:
    * streaming ingest and fine-grained writes leave day directories
    * with many sub-target files, and scan throughput at 100 TB dies by
    * open-file overhead long before bytes do. Per partition: file
    * count, total bytes, the bin count a `targetBytes` re-write would
    * produce (⌈bytes/target⌉), and whether compaction shrinks the file
    * count at all. The listing is FILE METADATA — one row per file,
    * the same order of work every table format's manifest read does;
    * it runs driver-side through the Hadoop FileSystem API (at cluster
    * scale the identical listing fans out over the FS listing API or
    * reads the table manifest — the report shape is unchanged). No
    * DuckDB oracle: byte sizes are environment-specific;
    * CompactionPlanSpec pins the invariants against an independent
    * local listing. */
  def compactionPlan(s: SparkSession, d: String,
      targetBytes: Long = 128L << 20): DataFrame =
    compactionPlanAt(s, eventsByDatePath(s, d), targetBytes)

  /** [[compactionPlan]]'s listing over an explicit layout root (shared
    * with [[compactionAudit]], which runs it over the COMPACTED layout). */
  private def compactionPlanAt(s: SparkSession, layoutRoot: String,
      targetBytes: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(layoutRoot)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val rows = fs.listStatus(root).filter(_.isDirectory).toSeq
      .map { p =>
        val files = fs.listStatus(p.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        val bytes = files.map(_.getLen).sum
        val groups = math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong)
        (p.getPath.getName.stripPrefix("event_date="),
          files.length.toLong, bytes, groups, files.length > groups)
      }
      .sortBy(_._1)
    import s.implicits._
    rows.toDF("partition", "n_files", "total_bytes",
      "n_target_groups", "needs_compaction")
  }

  /** EXECUTE the compaction [[compactionPlan]] recommends — the second
    * half of the maintenance job: rewrite the date-partitioned events
    * layout so each day directory lands in (at most) its planned
    * ⌈bytes/target⌉ file groups, then read the compacted layout BACK and
    * report per-partition row count + exact DECIMAL value sum — the
    * data-preservation proof a maintenance job must produce before it
    * swaps directories. That report is what the DuckDB oracle pins
    * (`q_compaction_exec`: counts + sums over the raw table — compaction
    * must change files, never rows); the file-level post-conditions
    * (per-day file count ≤ planned groups, == 1 where groups == 1) are
    * asserted by CompactionPlanSpec against an independent listing, since
    * byte-derived group counts are environment-specific.
    *
    * Shape: the plan is partition-count-sized (broadcast), each row of
    * the fact is shuffled ONCE to its (day, bin) writer task —
    * `repartition(event_date, pmod(event_id, n_target_groups))` — so a
    * day with one group writes one file and an over-target day splits
    * into `groups` bins; at 100 TB this is exactly the one-shuffle
    * rewrite OPTIMIZE/rewriteDataFiles performs, driven by the same
    * manifest statistics. Guarded one-per-JVM like [[eventsByDatePath]]
    * so bench reps reuse the committed rewrite. */
  def compactionExec(s: SparkSession, d: String,
      targetBytes: Long = 128L << 20): DataFrame =
    s.read.parquet(compactedEventsPath(s, d, targetBytes))
      .groupBy(col("event_date").cast("string").as("partition"))
      .agg(count(lit(1)).as("n_rows"), exactSum(col("value")).as("value_sum"))

  /** The compacted layout [[compactionExec]] writes (and
    * [[compactionAudit]] re-lists), built once per JVM. */
  private def compactedEventsPath(s: SparkSession, d: String,
      targetBytes: Long): String = {
    // targetBytes is part of the guard key: a second call in the same JVM
    // with a different target must rewrite, not reuse the first layout
    val out = graft.Scratch.dir(s"compactexec_${d}_tb$targetBytes") + "/events_by_date"
    if (!new java.io.File(out, "_SUCCESS").exists()) {
      val planDf = compactionPlan(s, d, targetBytes)
        .select(col("partition").as("event_date"), col("n_target_groups"))
      val src = s.read.parquet(eventsByDatePath(s, d))
        .withColumn("event_date", col("event_date").cast("string"))
      src.join(broadcast(planDf), Seq("event_date"))
        .repartition(col("event_date"),
          pmod(col("event_id"), col("n_target_groups")))
        .drop("n_target_groups")
        .write.mode("overwrite").partitionBy("event_date").parquet(out)
    }
    out
  }

  /** Post-compaction idempotence audit — the report a maintenance job
    * files AFTER [[compactionExec]] swaps the layout in: re-run the
    * [[compactionPlan]] listing over the COMPACTED layout and join the
    * read-back per-day row counts (a footer-metadata aggregate — the
    * manifest read every table format does). The contract it states is
    * all integers: every day directory landed in exactly its planned
    * group count (1 at any scale where a day's bytes fit one target
    * file), the plan over a compacted layout recommends nothing
    * (`needs_compaction = false` everywhere), and no row went missing.
    * Because the grouped rewrite makes the file layout DETERMINISTIC
    * (one (day, bin) group per writer task), every column is derivable
    * by the DuckDB oracle from the raw table — unlike the pre-compaction
    * plan over the ragged ingest layout, whose file counts/bytes are
    * scheduling- and encoding-specific (that half stays pinned by
    * CompactionPlanSpec against an independent listing). The raw
    * `total_bytes` column is dropped for the same reason: parquet
    * encoding is engine-specific; its DERIVED decision columns
    * (`n_target_groups`, `needs_compaction`) are what the audit pins. */
  def compactionAudit(s: SparkSession, d: String,
      targetBytes: Long = 128L << 20): DataFrame = {
    val out = compactedEventsPath(s, d, targetBytes)
    val listing = compactionPlanAt(s, out, targetBytes)
      .select("partition", "n_files", "n_target_groups", "needs_compaction")
    val counts = s.read.parquet(out)
      .groupBy(col("event_date").cast("string").as("partition"))
      .agg(count(lit(1)).as("n_rows"))
    listing.join(counts, Seq("partition"))
      .select("partition", "n_files", "n_rows",
        "n_target_groups", "needs_compaction")
  }

  /** The lazy plan [[bloomPrunedJoin]] materializes (split out so the
    * spec can assert the injected `might_contain` before checkpointing
    * erases the plan). Shape notes that make the rule fire: the creation
    * side must be a SELECTIVE FILTER DIRECTLY OVER A SCAN (InjectRuntime-
    * Filter walks only Project/Filter down to the leaf — an aggregate
    * dim would disqualify it), hence the raw high-value-purchase rows,
    * deduplicated by the Bloom filter itself rather than a distinct; and
    * the join is LEFT SEMI (exists-style), so duplicate dim rows cannot
    * fan out the fact side. Fact = click/view rows of users with at
    * least one purchase ≥ 180, aggregated per user. */
  def bloomPrunedPlan(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
    val dim = ev.where(col("event_type") === "purchase" && col("value") >= 180.0)
      .select("user_id")
    val fact = ev.where(col("event_type").isin("click", "view"))
      .select("user_id", "event_type", "value")
    fact.join(dim.hint("merge"), Seq("user_id"), "left_semi")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_browse"),
        exactSum(col("value")).as("browse_sum"))
  }
}
