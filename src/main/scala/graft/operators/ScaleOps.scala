package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Cluster-scale join patterns: salted joins (hot-key skew dilution)
  * and the distributed rank / prefix-sum primitives — plan/storage
  * techniques rather than new operators, plan-asserted in ScaleOpsSpec.
  * Co-located bucketed joins (`df.write.bucketBy(n, k).sortBy(k)`: the
  * shuffle is paid once at write time) and Hive-style partitioned
  * layouts (`df.write.partitionBy(c)`: static and dynamic partition
  * pruning at file-listing time) need no wrapper; ScaleOpsSpec asserts
  * their no-exchange and PartitionFilters/DPP plans on Spark's writers.
  */
object ScaleOps {

  /** Cap on distinct group keys per partition in the grouped
    * primitives' offset pass ([[groupedRank]]/[[groupedCumSum]]/
    * [[groupedFill]]). Those passes collect per-partition PER-GROUP
    * state to the driver — KB-scale when `groupCols` is schema-bounded
    * (years, languages, sources, nations), a silent driver OOM when a
    * caller passes an entity key. The guard turns the OOM into a fast,
    * named failure in the offset job itself, before anything is
    * collected. 100 k entries per partition is ~100× any legitimate
    * bounded key set and far below driver danger (a few MB total).
    * Two-level: this executor-side cap catches entity keys at small
    * partition counts; [[MaxGroupsTotal]] catches them at large ones,
    * where each partition's share of the keyspace slips under this cap.
    */
  val MaxGroupsPerPartition: Int = 100000

  /** Driver-side cap on TOTAL offset entries across all partitions.
    * The per-partition cap alone misses the many-partition regime: at
    * p partitions an entity key puts only ~groups/p entries in each
    * partition (under the per-partition cap once p is large), but
    * p × that is still the whole entity keyspace arriving at the
    * driver. Legitimate bounded-group usage collects at most
    * groups + partitions − 1 entries (group runs are contiguous under
    * the range shuffle, so a group adds an extra entry only where it
    * straddles a partition boundary) — thousands, never near 1 M.
    */
  val MaxGroupsTotal: Long = 1000000L

  /** Executor-side guard for the offset passes: called whenever a
    * per-partition group map grows, throws past the cap. The
    * IllegalStateException surfaces as the SparkException's cause with
    * this message intact.
    */
  private def requireBoundedGroups(op: String, size: Int): Unit =
    if (size > MaxGroupsPerPartition)
      throw new IllegalStateException(
        s"$op: a single partition holds more than $MaxGroupsPerPartition " +
          "distinct group keys — groupCols looks entity-grained, and the " +
          "offset pass would materialize every group on the driver. The " +
          "grouped ScaleOps primitives require a schema-bounded group key " +
          "(years, languages, sources, nations); for entity-grained keys " +
          "use a plain partitioned window, which is already scale-safe.")

  /** Collect the offset pass's per-partition vectors with an
    * INCREMENTAL total-size guard: task results flow through a runJob
    * result handler as they arrive, and the job aborts (the handler's
    * exception surfaces as SparkDriverExecutionException) the moment
    * the running total crosses [[MaxGroupsTotal]] — so the driver
    * never buffers more than the cap plus the in-flight task results,
    * closing the regime the executor-side per-partition cap cannot
    * see. Shared by all three grouped primitives so the guard cannot
    * drift between them.
    */
  private def collectOffsetsGuarded[T](op: String,
      rdd: org.apache.spark.rdd.RDD[(Int, Vector[T])]): Array[Vector[T]] = {
    val out = Array.fill[Vector[T]](rdd.getNumPartitions)(Vector.empty)
    var total = 0L
    rdd.sparkContext.runJob(rdd,
      (it: Iterator[(Int, Vector[T])]) => it.toArray,
      (_: Int, res: Array[(Int, Vector[T])]) => res.foreach { case (i, v) =>
        total += v.size
        if (total > MaxGroupsTotal)
          throw new IllegalStateException(
            s"$op: more than $MaxGroupsTotal group keys collected across " +
              "all partitions — groupCols looks entity-grained (each " +
              "partition under the per-partition cap, but the keyspace as " +
              "a whole is data-sized). The grouped ScaleOps primitives " +
              "require a schema-bounded group key; for entity-grained " +
              "keys use a plain partitioned window.")
        out(i) = v
      })
    out
  }

  /** Inner equi-join with the big side's hot keys diluted over `salt`
    * sub-keys: the big side gets a per-row salt, the small side is
    * replicated `salt` times, and the join key becomes (key, salt) — a
    * single hot key now lands on `salt` reducers instead of one.
    * Semantically identical to `big.join(small, key)` (inner) in BOTH
    * modes (the small side carries every salt value, so a big row
    * matches the same small rows whatever its salt); use when AQE skew
    * splitting isn't enough (e.g. one key is most of the input).
    *
    * Salt derivation, in order of preference:
    *   - `uniqueCol = Some(id)` (use whenever the table HAS a unique
    *     id — doc_id, event_id, offset…): salt from xxhash64 of that
    *     column alone — fully DETERMINATE map outputs (retry/
    *     reshuffle-stable) AND spam-proof (content-identical rows
    *     carry distinct ids, so 100%-duplicate floods under one key
    *     still fan out over all `salt` reducers). This is the
    *     production setting; the two below exist for tables with no
    *     row identity.
    *   - default: xxhash64 over the row content — determinate, but
    *     rows identical in EVERY column share a salt, so exact-
    *     duplicate spam under one key still lands on one reducer (the
    *     exact/fingerprint dedup pass upstream is the structural fix).
    *   - `acceptIndeterminateSalt = true`: salt from
    *     `monotonically_increasing_id()` — duplicates fan out evenly,
    *     but the salt depends on row order, so the map output is
    *     INDETERMINATE under stage retry (Spark correctly reruns the
    *     WHOLE stage for indeterminate outputs — a real cost at
    *     100 TB; the joined RESULT is unchanged either way). The
    *     parameter name is the warning label: any determinate
    *     spam-proof salt needs an ordering over identical rows, which
    *     is exactly what a unique id column provides — there is no
    *     third option, so reach for this ONLY when the table truly
    *     has no row identity, and say so in the calling code.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salt: Int, acceptIndeterminateSalt: Boolean = false,
                 uniqueCol: Option[String] = None): DataFrame = {
    require(salt > 0, "salt must be positive")
    require(!(acceptIndeterminateSalt && uniqueCol.isDefined),
      "a table with a unique id never needs the indeterminate salt — drop the flag")
    val saltExpr = uniqueCol match {
      case Some(u) => pmod(xxhash64(col(u)), lit(salt)).cast("int")
      case None if acceptIndeterminateSalt =>
        pmod(monotonically_increasing_id(), lit(salt)).cast("int")
      case None =>
        pmod(xxhash64(big.columns.map(col).toIndexedSeq: _*), lit(salt)).cast("int")
    }
    val saltedBig = big.withColumn("__salt", saltExpr)
    val replicatedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedBig.join(replicatedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Small-files compaction: rewrite a (typically many-small-files)
    * table into ~`targetFileBytes` outputs, sized from Catalyst's own
    * statistics (`optimizedPlan.stats.sizeInBytes` — file-size sum for
    * a parquet relation, no extra scan). The chronic 100 TB operational
    * problem: a streaming sink or over-parallel job leaves thousands
    * of KB-files per partition and every downstream scan pays
    * per-file open/footer cost; periodic compaction is the fix.
    * Round-robin repartition (not coalesce: coalesce would narrow the
    * write parallelism AND inherit upstream skew).
    */
  def compactionPartitions(df: DataFrame, targetFileBytes: Long): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes // BigInt
    ((bytes + targetFileBytes - 1) / targetFileBytes).max(BigInt(1)).toInt
  }

  def compact(df: DataFrame, targetFileBytes: Long): DataFrame =
    df.repartition(compactionPartitions(df, targetFileBytes))

  /** Global dense row-numbering WITHOUT a single-partition window — the
    * reusable primitive the statistics queries reach for instead of
    * `row_number().over(Window.orderBy(...))` on fact-grain rows (which
    * moves the whole frame to one task).
    *
    * Plan: range-shuffle on the order columns (each partition owns a
    * contiguous key range), sort within partitions, then
    * `RDD.zipWithIndex` — its count job and its map job run over the
    * SAME shuffled RDD, so the scheduler skips the shuffle-map stage on
    * the second job and the upstream plan computes exactly once. (The
    * pure-SQL formulation — a second aggregate subtree for partition
    * counts joined back as offsets — recomputes the whole upstream:
    * column pruning slims the counts-side exchange so ReuseExchange
    * never matches. This is the one genuinely per-partition-imperative
    * step in the repo, i.e. the RDD escape hatch used as intended.)
    *
    * `orderCols` must be a TOTAL order (include a unique tie-break key,
    * e.g. the row's primary key) — exact ties that straddle a range
    * boundary would otherwise get nondeterministic ranks.
    *
    * Side effect: `zipWithIndex` launches its count job EAGERLY, at
    * call time, not at the returned DataFrame's first action. Plan
    * branches that reuse the result re-execute only the post-shuffle
    * map (shuffle files are reused), so multi-branch consumers pay
    * extra map work, not a recompute; if more multi-branch call sites
    * appear, persist the zipped RDD before createDataFrame.
    *
    * Cost note: `repartitionByRange` runs RangePartitioner's SAMPLING
    * pass over the input before the shuffle map stage, so the upstream
    * plan executes ~twice per call (sample + map). For the entity-grain
    * aggregates this primitive targets that is one extra cheap
    * aggregation; a caller ranking an EXPENSIVE upstream should
    * `localCheckpoint` the input first so both passes read the
    * materialized frame.
    */
  def distributedRank(df: DataFrame, orderCols: Seq[Column],
                      rankCol: String = "rk",
                      partitions: Int = 0): DataFrame = {
    require(!df.columns.contains(rankCol),
      s"distributedRank: column $rankCol already exists")
    val n = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(n, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+ org.apache.spark.sql.types.StructField(
        rankCol, org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = ranged.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L)) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Rank WITHIN bounded groups without a per-group single-task sort —
    * the grouped sibling of [[distributedRank]]. A window partitioned
    * by a LOW-cardinality key (year, language, event type, key-column
    * label) over entity/fact-grain rows is the same 100 TB hazard as
    * an unpartitioned window, just split across k tasks for schema-
    * bounded k: `row_number().over(Window.partitionBy(yr).orderBy(...))`
    * with two years pushes half the frame through each of TWO tasks.
    *
    * Plan: range shuffle on (groupCols ++ orderCols) — group runs are
    * contiguous — then the same two-job anatomy as [[groupedCumSum]]
    * over the SAME shuffled RDD (shuffle files reused): (1)
    * per-partition PER-GROUP row counts collected to the driver
    * (numPartitions × bounded-groups entries, KB-scale; guarded by
    * [[MaxGroupsPerPartition]] executor-side and [[MaxGroupsTotal]]
    * driver-side — past either cap the offset job fails fast instead
    * of OOMing the driver) and scanned into exclusive
    * per-group offsets plus group totals; (2) an offset-seeded
    * per-partition counter. Rank-in-group comes back as `rankCol`,
    * the group total as `countCol` (every quantile/ntile consumer
    * needs it). `groupCols` must be a BOUNDED key set:
    * dimension/calendar-grain, never an entity key — for entity keys
    * use a plain partitioned window, which is already scale-safe.
    * A NULL group key is an ordinary group (exactly like
    * `row_number().over(Window.partitionBy(g))`, which puts all
    * null-keyed rows in one partition). Eager like zipWithIndex:
    * job (1) runs at call time. Determinism caveat: see
    * [[distributedCumSum]] — for a NONDETERMINATE upstream,
    * `localCheckpoint` the input first.
    */
  def groupedRank(df: DataFrame, groupCols: Seq[String],
                  orderCols: Seq[Column], rankCol: String = "rk",
                  countCol: String = "n_grp",
                  partitions: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "groupedRank needs at least one group column")
    require(!df.columns.contains(rankCol) && !df.columns.contains(countCol),
      s"groupedRank: output column $rankCol/$countCol already exists")
    val n = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    val ordered = groupCols.map(col(_).asc) ++ orderCols
    val ranged = df.repartitionByRange(n, ordered: _*)
      .sortWithinPartitions(ordered: _*)
    val gIdx = groupCols.map(ranged.schema.fieldIndex)
    val rdd0 = ranged.rdd
    val perPart = collectOffsetsGuarded("groupedRank",
      rdd0.mapPartitionsWithIndex { (i, it) =>
        val m = scala.collection.mutable.LinkedHashMap[Seq[Any], Long]()
        it.foreach { r =>
          val k = gIdx.map(r.get)
          m(k) = m.getOrElse(k, 0L) + 1L
          requireBoundedGroups("groupedRank", m.size)
        }
        Iterator((i, m.toVector))
      })
    // group totals (the countCol payload) and exclusive per-(partition,
    // group) rank offsets — the only driver-side state, bounded by
    // numPartitions × bounded-groups entries
    val totals = scala.collection.mutable.HashMap[Seq[Any], Long]()
    perPart.foreach(_.foreach { case (k, c) =>
      totals(k) = totals.getOrElse(k, 0L) + c })
    val running = scala.collection.mutable.HashMap[Seq[Any], Long]()
    val offsets: Array[Map[Seq[Any], Long]] = perPart.map { m =>
      val snapshot = m.map { case (k, _) =>
        k -> running.getOrElse(k, 0L) }.toMap
      m.foreach { case (k, c) => running(k) = running.getOrElse(k, 0L) + c }
      snapshot
    }
    val offB = df.sparkSession.sparkContext.broadcast(offsets)
    val totB = df.sparkSession.sparkContext.broadcast(totals.toMap)
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+
        org.apache.spark.sql.types.StructField(rankCol,
          org.apache.spark.sql.types.LongType, nullable = false) :+
        org.apache.spark.sql.types.StructField(countCol,
          org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = rdd0.mapPartitionsWithIndex { (i, it) =>
      val st = scala.collection.mutable.HashMap[Seq[Any], Long]()
      offB.value(i).foreach { case (k, v) => st(k) = v }
      val tot = totB.value
      it.map { r =>
        val k = gIdx.map(r.get)
        val rk = st.getOrElse(k, 0L) + 1L
        st(k) = rk
        Row.fromSeq(r.toSeq :+ rk :+ tot(k))
      }
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** SQL `ntile(k)` bucket recovered from a pre-computed global rank —
    * the companion to [[distributedRank]] that lets quantile-scoring
    * queries (RFM quintiles, quartile bands, price tiers) drop their
    * unpartitioned `ntile(k).over(Window.orderBy(...))` window: rank
    * via range shuffle, then this pure column expression maps
    * (rank, total) → the IDENTICAL bucket ntile would assign.
    *
    * Semantics (SQL standard, Spark's `NTile` and DuckDB agree):
    * `base = n div k`, `rem = n mod k`; the first `rem` buckets hold
    * `base+1` rows, the rest `base`. The `when` guard also covers
    * n < k (base = 0): every row then lands in its own bucket, and the
    * `base`-divisor branch is never evaluated (CaseWhen is lazy; the
    * `greatest(base,1)` keeps ANSI div-by-zero unreachable even if an
    * optimizer rewrite were to constant-fold the branch).
    *
    * `rk` must be the 1-based dense global position from a TOTAL order
    * (distributedRank with a tie-break key); `n` the frame's row count
    * (a broadcast 1-row aggregate). Returns LongType. (The `/` on
    * Columns is IEEE division; positive long operands round-trip the
    * floor exactly below ~2×10¹⁵ rows — past any real frame.)
    */
  def ntileOfRank(rk: Column, n: Column, k: Int): Column = {
    def idiv(a: Column, b: Column): Column = floor(a / b).cast("long")
    val base = idiv(n.cast("long"), lit(k.toLong))
    val rem = n.cast("long") - base * k
    val cutoff = rem * (base + lit(1L))
    when(rk <= cutoff, idiv(rk + base, base + lit(1L)))
      .otherwise(rem + idiv(rk - cutoff + greatest(base, lit(1L)) - 1L,
        greatest(base, lit(1L))))
  }

  /** Exact global running sum (prefix sum / cumulative sum) of
    * `valueCol` (LongType) along the total order `orderCols`, with no
    * single-partition window — the scale-safe form of
    * `sum(v).over(Window.orderBy(...).rowsBetween(unboundedPreceding,
    * currentRow))` for ABC/Pareto cumulative-share queries whose order
    * key (e.g. per-part revenue) is near-unique, so the value-grain
    * cumulative trick (q269/q300) would degenerate back to the full
    * entity frame.
    *
    * Plan: range-shuffle on the order columns, sort within partitions,
    * then TWO jobs over the SAME shuffled RDD (the scheduler reuses the
    * shuffle files, as in [[distributedRank]]): (1) per-partition value
    * totals — numPartitions longs to the driver, KB-scale at any data
    * size — scanned into exclusive per-partition offsets; (2) a
    * per-partition running sum seeded with the partition's offset.
    * Both the rank (`rankCol`) and the inclusive running sum (`cumCol`)
    * come back, since every cumulative-share consumer also wants the
    * position. Eager like zipWithIndex: job (1) runs at call time.
    *
    * `orderCols` must be a TOTAL order (include a unique tie-break
    * key); `valueCol` must be a non-null LongType column.
    *
    * Determinism caveat (applies to every two-pass primitive here,
    * incl. [[groupedRank]]/[[groupedCumSum]]/[[groupedFill]] and
    * [[distributedRank]]'s zipWithIndex): the offset job and the
    * output job assume they read the SAME shuffled rows. Normally the
    * shuffle files are reused, but if map partitions are RECOMPUTED
    * (executor loss) over a nondeterminate upstream — sampling,
    * [[saltedJoin]]'s `acceptIndeterminateSalt` mode, round-robin
    * `repartition(n)` — the second pass can see different rows than
    * the offsets were computed from, silently corrupting the seeded
    * sums/carries. For a nondeterminate input, `localCheckpoint` it
    * first so both passes read the materialized frame (the same rule
    * saltedJoin documents for its indeterminate mode).
    */
  def distributedCumSum(df: DataFrame, orderCols: Seq[Column],
                        valueCol: String, cumCol: String = "cum",
                        rankCol: String = "rk",
                        partitions: Int = 0): DataFrame = {
    require(!df.columns.contains(cumCol) && !df.columns.contains(rankCol),
      s"distributedCumSum: output column $cumCol/$rankCol already exists")
    val n = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(n, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val vIdx = ranged.schema.fieldIndex(valueCol)
    val rdd0 = ranged.rdd
    // per-partition (rowCount, valueTotal): one pair per partition —
    // the only driver-side state, bounded by the partition count
    val perPart = rdd0.mapPartitionsWithIndex { (i, it) =>
      var c = 0L; var s = 0L
      it.foreach { r => c += 1L; s += r.getLong(vIdx) }
      Iterator((i, (c, s)))
    }.collect().sortBy(_._1).map(_._2)
    val cntOff = perPart.map(_._1).scanLeft(0L)(_ + _)
    val sumOff = perPart.map(_._2).scanLeft(0L)(_ + _)
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+
        org.apache.spark.sql.types.StructField(rankCol,
          org.apache.spark.sql.types.LongType, nullable = false) :+
        org.apache.spark.sql.types.StructField(cumCol,
          org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = rdd0.mapPartitionsWithIndex { (i, it) =>
      var rk = cntOff(i); var run = sumOff(i)
      it.map { r =>
        rk += 1L; run += r.getLong(vIdx)
        Row.fromSeq(r.toSeq :+ rk :+ run)
      }
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Grouped exact running sum — the grouped sibling of
    * [[distributedCumSum]] and the cumulative sibling of
    * [[groupedRank]]: `sum(v).over(Window.partitionBy(g).orderBy(...)
    * .rowsBetween(unboundedPreceding, currentRow))` sorts and prefix-
    * sums each group in ONE task, which for a schema-bounded group key
    * (sources, years, types) over entity/fact-grain rows is the same
    * single-task hazard as the unpartitioned form (the "mega-source
    * serializes its partition" caveat the token-budget fill used to
    * carry).
    *
    * Plan: range shuffle on (groupCols ++ orderCols) — group runs are
    * contiguous — then TWO jobs over the SAME shuffled RDD: (1)
    * per-partition PER-GROUP (count, total), collected to the driver
    * (numPartitions × groups-per-partition entries; groups are
    * schema-bounded, so KB-scale — enforced at runtime by
    * [[MaxGroupsPerPartition]] and [[MaxGroupsTotal]]) and scanned
    * into exclusive offsets;
    * (2) a per-partition running state seeded with each group's
    * offset. Returns rank-in-group (`rankCol`) and the inclusive
    * per-group running sum (`cumCol`), both LongType.
    *
    * `groupCols` must be a BOUNDED key set; `orderCols` must make
    * (groupCols ++ orderCols) a total order; `valueCol` non-null
    * LongType. Eager like zipWithIndex: job (1) runs at call time.
    */
  def groupedCumSum(df: DataFrame, groupCols: Seq[String],
                    orderCols: Seq[Column], valueCol: String,
                    cumCol: String = "cum", rankCol: String = "rk",
                    partitions: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "groupedCumSum needs a group column")
    require(!df.columns.contains(cumCol) && !df.columns.contains(rankCol),
      s"groupedCumSum: output column $cumCol/$rankCol already exists")
    val n = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    val ordered = groupCols.map(col(_).asc) ++ orderCols
    val ranged = df.repartitionByRange(n, ordered: _*)
      .sortWithinPartitions(ordered: _*)
    val gIdx = groupCols.map(ranged.schema.fieldIndex)
    val vIdx = ranged.schema.fieldIndex(valueCol)
    val rdd0 = ranged.rdd
    val perPart = collectOffsetsGuarded("groupedCumSum",
      rdd0.mapPartitionsWithIndex { (i, it) =>
        val m = scala.collection.mutable.LinkedHashMap[Seq[Any], (Long, Long)]()
        it.foreach { r =>
          val k = gIdx.map(r.get)
          val (c, s) = m.getOrElse(k, (0L, 0L))
          m(k) = (c + 1L, s + r.getLong(vIdx))
          requireBoundedGroups("groupedCumSum", m.size)
        }
        Iterator((i, m.toVector))
      })
    // exclusive per-(partition, group) offsets: what accumulated in
    // earlier partitions for the same group
    val running = scala.collection.mutable.HashMap[Seq[Any], (Long, Long)]()
    val offsets: Array[Map[Seq[Any], (Long, Long)]] = perPart.map { m =>
      val snapshot = m.map { case (k, _) =>
        k -> running.getOrElse(k, (0L, 0L)) }.toMap
      m.foreach { case (k, (c, s)) =>
        val (pc, ps) = running.getOrElse(k, (0L, 0L))
        running(k) = (pc + c, ps + s)
      }
      snapshot
    }
    val offB = df.sparkSession.sparkContext.broadcast(offsets)
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+
        org.apache.spark.sql.types.StructField(rankCol,
          org.apache.spark.sql.types.LongType, nullable = false) :+
        org.apache.spark.sql.types.StructField(cumCol,
          org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = rdd0.mapPartitionsWithIndex { (i, it) =>
      val st = scala.collection.mutable.HashMap[Seq[Any], (Long, Long)]()
      offB.value(i).foreach { case (k, v) => st(k) = v }
      it.map { r =>
        val k = gIdx.map(r.get)
        val (c, s) = st.getOrElse(k, (0L, 0L))
        val nc = c + 1L; val ns = s + r.getLong(vIdx)
        st(k) = (nc, ns)
        Row.fromSeq(r.toSeq :+ nc :+ ns)
      }
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Grouped forward-fill — `last(v, ignoreNulls).over(Window
    * .partitionBy(g).orderBy(...))` without the per-group single-task
    * sort: carries the most recent non-null `fillCol` value along the
    * total order within each bounded group (the as-of/carry idiom on
    * any axis — time, size, rank). Same two-pass anatomy as
    * [[groupedCumSum]]: range shuffle on (groupCols ++ orderCols),
    * per-partition per-group LAST non-null (plus the partition's
    * present-group set) collected to the driver (bounded groups ⇒ KB,
    * enforced at runtime by [[MaxGroupsPerPartition]] /
    * [[MaxGroupsTotal]]), each partition seeded with the running carry
    * of exactly the groups IT CONTAINS (a group's last non-null may
    * sit several partitions back; seeding by presence keeps the
    * broadcast O(groups + partitions), not O(partitions × groups)),
    * then an offset-seeded carry on the second pass over the same
    * shuffle files. INCLUSIVE of the current row (the
    * standard forward-fill frame unboundedPreceding..currentRow);
    * rows whose own value is null receive the carry, so exclusive
    * consumers that filter to null-valued rows see identical results.
    * `outCol` has `fillCol`'s type, nullable (null until the group's
    * first non-null).
    */
  def groupedFill(df: DataFrame, groupCols: Seq[String],
                  orderCols: Seq[Column], fillCol: String,
                  outCol: String, partitions: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "groupedFill needs a group column")
    require(!df.columns.contains(outCol),
      s"groupedFill: output column $outCol already exists")
    val n = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    val ordered = groupCols.map(col(_).asc) ++ orderCols
    val ranged = df.repartitionByRange(n, ordered: _*)
      .sortWithinPartitions(ordered: _*)
    val gIdx = groupCols.map(ranged.schema.fieldIndex)
    val fIdx = ranged.schema.fieldIndex(fillCol)
    val rdd0 = ranged.rdd
    // per-partition (group -> last non-null, PLUS the set of all groups
    // present — a group whose rows in this partition are all null still
    // needs its carry seed, and seeding only the groups a partition
    // actually contains keeps the broadcast O(groups + partitions), not
    // O(partitions x groups)
    val perPart = collectOffsetsGuarded("groupedFill",
      rdd0.mapPartitionsWithIndex { (i, it) =>
        val m = scala.collection.mutable.LinkedHashMap[Seq[Any], Any]()
        val present = scala.collection.mutable.LinkedHashSet[Seq[Any]]()
        it.foreach { r =>
          val k = gIdx.map(r.get)
          present += k
          requireBoundedGroups("groupedFill", present.size)
          val v = r.get(fIdx)
          if (v != null) m(k) = v
        }
        Iterator((i, present.toVector.map(k => k -> m.getOrElse(k, null))))
      })
    val running = scala.collection.mutable.HashMap[Seq[Any], Any]()
    val offsets: Array[Map[Seq[Any], Any]] = perPart.map { m =>
      val snapshot = m.flatMap { case (k, _) =>
        running.get(k).map(k -> _) }.toMap
      m.foreach { case (k, v) => if (v != null) running(k) = v }
      snapshot
    }
    val offB = df.sparkSession.sparkContext.broadcast(offsets)
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+
        ranged.schema(fIdx).copy(name = outCol, nullable = true))
    val rdd = rdd0.mapPartitionsWithIndex { (i, it) =>
      val st = scala.collection.mutable.HashMap[Seq[Any], Any]()
      offB.value(i).foreach { case (k, v) => st(k) = v }
      it.map { r =>
        val k = gIdx.map(r.get)
        val v = r.get(fIdx)
        if (v != null) st(k) = v
        Row.fromSeq(r.toSeq :+ st.getOrElse(k, null))
      }
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Z-order layout: range-partition + sort the table by the Morton
    * interleave of two integer dimensions, so parquet row-group min/max
    * statistics prune scans filtered on EITHER dimension (a linear sort
    * clusters only its leading column; the space-filling curve gives
    * both columns locality). Write the result with `.write` and
    * point-lookups/range scans on (x) or (y) skip most row groups —
    * the single-table analogue of what bucketing does for joins.
    */
  def zorderLayout(df: DataFrame, xCol: String, yCol: String,
                   partitions: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("__z", graft.functions.GraftFunctions.zorder64(
        col(xCol).cast("long"), col(yCol).cast("long")))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }
}
