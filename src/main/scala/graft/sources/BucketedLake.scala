package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed-table layout for co-located joins (SURVEY scale stance:
  * "repartition()/bucketing for co-located joins"). Writing both sides of a
  * recurring fact-to-fact join bucketed (and sorted) by the join key lets
  * every subsequent join and key-aggregation run WITHOUT an exchange — the
  * technique for big-to-big joins where neither side is broadcastable, paid
  * for once at write time. `q33_bucketed_join` demonstrates it and PlanSpec
  * asserts the shuffle-free plan.
  *
  * Tables are written once per (session, sf dir) into the session warehouse
  * (Spark's in-memory catalog; Overwrite handles stale files from earlier
  * JVMs). Bucket counts MUST match across join sides — both use `buckets`.
  */
object BucketedLake {

  final case class Tables(orders: String, lineitem: String)

  /** A layout-identity suffix for derived bucketed tables: same source dir
    * + same bucket count ⟺ same table name, so a session never silently
    * reuses a layout built with different parameters.
    */
  private[graft] def layoutSuffix(dir: String, buckets: Int): String =
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xFFFFFFFFL) +
      s"_b$buckets"

  /** Run `write` only when `name` is absent from this session's catalog,
    * clearing any stale warehouse files an earlier JVM left at the
    * table's location first (the in-memory catalog forgets tables across
    * JVMs but the files persist; CREATE TABLE AS validates the location
    * even in Overwrite mode). The one guard every derived-layout writer
    * shares — bucketed and residue-sorted alike.
    */
  private def freshTable(spark: SparkSession, name: String)
                        (write: => Unit): Unit =
    if (!spark.catalog.tableExists(name)) {
      // hadoop Path handles unencoded/scheme-less warehouse dirs where
      // java.net.URI would throw or yield a null path
      val warehouse = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
      val stale = new java.io.File(warehouse, name)
      if (stale.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(stale)
      }
      write
    }

  /** Write `df` as a bucketed+sorted-by-`key` warehouse table unless it
    * already exists in this session's catalog. The in-memory catalog
    * forgets tables across JVMs but the warehouse files persist; the
    * layout is a derived cache, so stale files from earlier JVMs are
    * cleared first (CREATE TABLE AS validates the location even in
    * Overwrite mode).
    */
  private[graft] def writeBucketedTable(spark: SparkSession, name: String,
                                        df: DataFrame, key: String,
                                        buckets: Int,
                                        moreKeys: String*): Unit =
    freshTable(spark, name) {
      df.write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, key, moreKeys: _*).sortBy(key, moreKeys: _*)
        .format("parquet").saveAsTable(name)
    }

  /** Append `df` into an existing bucketed table under the SAME bucket
    * spec (Spark validates the spec against the catalog and refuses a
    * mismatch — an append can never silently change a layout). Each append
    * adds one file per bucket; reads still prune/co-locate by bucket id
    * with no exchange, but multi-file buckets are no longer globally
    * sorted, so a sort-merge consumer re-sorts WITHIN partitions (a local
    * sort, not a shuffle). Compact by rewriting the table when append count
    * makes that sort noticeable.
    */
  private[graft] def appendBucketedTable(spark: SparkSession, name: String,
                                         df: DataFrame, key: String,
                                         buckets: Int,
                                         moreKeys: String*): Unit =
    df.write.mode(SaveMode.Append)
      .bucketBy(buckets, key, moreKeys: _*).sortBy(key, moreKeys: _*)
      .format("parquet").saveAsTable(name)

  /** The ledger column every exactly-once-appended index table carries
    * (VERDICT r19 #1): each append fold writes its rows at one epoch, so
    * parquet min/max stats prune the row-presence replay check to the
    * fold's own files, and the catalog [[FrontierProp]] records the last
    * APPLIED epoch. Base builds write the whole corpus at epoch 0.
    */
  private[graft] val EpochCol = "epoch"

  /** [[writeBucketedTable]] with the exactly-once ledger: the base build
    * lands at epoch 0 and, when the table is actually created (the
    * freshTable guard makes re-entry a no-op), the catalog frontier is
    * initialised to 0 — NEVER on re-entry, which would roll a grown
    * index's frontier back under its appended folds.
    */
  private[graft] def writeBucketedTableLedgered(spark: SparkSession,
                                                name: String, df: DataFrame,
                                                key: String, buckets: Int,
                                                moreKeys: String*): Unit = {
    val created = !spark.catalog.tableExists(name)
    writeBucketedTable(spark, name,
      df.withColumn(EpochCol, org.apache.spark.sql.functions.lit(0L)),
      key, buckets, moreKeys: _*)
    if (created) setFrontier(spark, name, 0L)
  }

  /** The table's last applied epoch: the catalog frontier property, or —
    * for a ledgered table from before the property existed — one
    * max(epoch) scan (pre-property layouts keep working; the scan answer
    * is what the property would have recorded).
    */
  private[graft] def frontierOrScan(spark: SparkSession, name: String): Long =
    frontier(spark, name).getOrElse(
      spark.table(name).agg(org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.max(col(EpochCol)),
        org.apache.spark.sql.functions.lit(0L))).head().getLong(0))

  /** Exactly-once [[appendBucketedTable]] — the t49/d26 epoch+frontier
    * ledger (VERDICT r19 #1), generic over every standing-index family: a
    * fold applies iff `epoch` exceeds the table's catalog frontier, so a
    * replayed or out-of-order fold is a no-op instead of a silent
    * double-insert (duplicated index rows inflate intersection counts and
    * fan out size joins on every later screen). Append and setFrontier
    * are not atomic; a retry of an epoch whose append landed but whose
    * frontier write was lost to a crash is detected by ROW PRESENCE at
    * that epoch (cheap — every append file is single-epoch, parquet
    * min/max stats prune all other files) and resolves as a property
    * repair, never a second append. Returns whether the fold is applied
    * on exit (true covers both a fresh append and a repair). Multi-table
    * folds call this once per table with ONE shared epoch; per-table
    * gating then heals a crash that landed between two tables' appends.
    *
    * RESIDUAL window (ADVICE r19): a crashed EMPTY-batch fold leaves zero
    * rows AND no frontier — indistinguishable from an unapplied fold, so
    * a retry that recomputed DIFFERENT (now non-empty) content applies it
    * at this epoch. That retry is the fold's FIRST application (nothing
    * of the empty attempt was observable), so at-most-once holds; what is
    * lost is only the ability to prove the empty attempt happened.
    * Closing it would need an atomic rows+property commit, which plain
    * parquet + catalog properties cannot give — swapping the write order
    * (property first) would trade this benign window for a
    * recorded-but-never-applied fold, i.e. silent data loss.
    */
  private[graft] def appendBucketedTableOnce(spark: SparkSession,
                                             name: String, df: DataFrame,
                                             epoch: Long, key: String,
                                             buckets: Int,
                                             moreKeys: String*): Boolean = {
    require(epoch > 0L,
      s"appendBucketedTableOnce($name): epoch 0 is the base build; got $epoch")
    val front = frontierOrScan(spark, name)
    val applies = epoch > front
    if (applies) {
      val alreadyApplied =
        !spark.table(name).filter(col(EpochCol) === epoch).isEmpty
      if (!alreadyApplied)
        appendBucketedTable(spark, name,
          df.withColumn(EpochCol, org.apache.spark.sql.functions.lit(epoch)),
          key, buckets, moreKeys: _*)
      setFrontier(spark, name, epoch)
    }
    applies
  }

  /** Rewrite a bucketed table in place from `plan` — the shared
    * held-handle overwrite every compaction rung uses: the plan
    * materializes into an RDD WE hold (persist + localCheckpoint + count)
    * BEFORE the Overwrite, because the rewrite reads the very files it
    * replaces — and never through `Dataset.localCheckpoint`, whose hidden
    * persisted RDD nothing can free (the dupClusters lesson).
    */
  private[graft] def rewriteBucketedTable(spark: SparkSession, name: String,
                                          plan: DataFrame, key: String,
                                          buckets: Int,
                                          moreKeys: String*): Unit = {
    // the saveAsTable Overwrite below replaces the catalog entry and drops
    // its TBLPROPERTIES — carry the exactly-once frontier ledger across
    // the rewrite so a compacted index keeps refusing replayed folds
    val keptFrontier = frontier(spark, name)
    // Align partitions to buckets BEFORE the write: a bucketed write emits
    // one file per (task, bucket), so an unaligned plan (size-split scan,
    // AQE-coalesced aggregate — or a repartition whose reducer mapping AQE
    // rewires into local reads on the .rdd path) would rebuild the very
    // multi-file buckets compaction exists to remove. The bucket id is
    // computed IN the plan with the writer's own function (murmur3-pmod —
    // `functions.hash` IS HashPartitioning's Murmur3Hash at the default
    // seed) and rows are placed by an identity RDD partitioner, so
    // partition i holds exactly bucket i's rows → one file per bucket, by
    // construction, immune to adaptive re-planning.
    val keyCols = (key +: moreKeys).map(col)
    val withBid = plan.withColumn("__bid",
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(keyCols: _*),
        org.apache.spark.sql.functions.lit(buckets)))
    val rdd = withBid.rdd
      .map(r => (r.getInt(r.length - 1),
        org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1))))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = buckets
        override def getPartition(k: Any): Int = k.asInstanceOf[Int]
      })
      .values
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.localCheckpoint()
    rdd.count() // force: the overwrite must never re-read the old files
    spark.createDataFrame(rdd, plan.schema)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key, moreKeys: _*).sortBy(key, moreKeys: _*)
      .format("parquet").saveAsTable(name)
    rdd.unpersist(blocking = false)
    keptFrontier.foreach(setFrontier(spark, name, _))
  }

  /** Compact an append-grown bucketed table back to one file per bucket
    * (VERDICT r17 #4 — the generic rung the shingle/edit/MIH/gear/IVF
    * index families' appends were missing): [[appendBucketedTable]] adds
    * one file per bucket per fold, so buckets accumulate files and lose
    * their global sort (sort-merge consumers pay a per-partition re-sort;
    * scans pay per-file open overhead). Compaction rewrites the SAME rows
    * — this is a file-layout operation, not a merge; reads are
    * bit-identical before and after by construction — under the SAME
    * bucket spec, restoring single-file, globally-sorted buckets. Run it
    * on a cadence (appends × probe volume), never on the ingest path —
    * the d27/t50 economics for every appended index.
    */
  def compactBucketedTable(spark: SparkSession, name: String, key: String,
                           buckets: Int, moreKeys: String*): String = {
    rewriteBucketedTable(spark, name, spark.table(name), key, buckets,
      moreKeys: _*)
    name
  }

  /** The table's filesystem directory, from the catalog (DESCRIBE
    * EXTENDED — public SQL surface, no session internals).
    */
  private def tableDir(spark: SparkSession, name: String): java.io.File = {
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $name").collect()
      .collectFirst { case r if r.getString(0) == "Location" => r.getString(1) }
      .getOrElse(throw new IllegalStateException(
        s"no Location in DESCRIBE TABLE EXTENDED $name"))
    new java.io.File(new java.net.URI(loc).getPath)
  }

  /** Max parquet files in any single bucket of a bucketed table — a
    * DRIVER-SIDE directory listing (no Spark job; the staleKnobs shape).
    * The bucketed writer encodes the bucket id as the `_NNNNN` suffix in
    * each file name, so the count comes straight off the names.
    */
  def bucketMaxFiles(spark: SparkSession, name: String): Int = {
    val dir = tableDir(spark, name)
    if (!dir.isDirectory)
      // a non-local or partitioned location would otherwise read as "0
      // files" → indexStale fresh forever (ADVICE r19): fail loudly —
      // this advisory only speaks for flat local bucketed layouts
      throw new IllegalStateException(
        s"bucketMaxFiles($name): table location $dir is not a local " +
          "directory — staleness cannot be assessed from file names here")
    val bucketRe = "_(\\d{5})\\.".r
    val files = Option(dir.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet"))
    // the bucket id is the LAST `_NNNNN.` group in the name (the writer's
    // suffix sits immediately before the extensions); taking the FIRST
    // match could bind to a digit run earlier in the task/uuid part
    val ids = files.toSeq.map(f =>
      bucketRe.findAllMatchIn(f.getName).toSeq.lastOption.map(_.group(1).toInt))
    if (files.nonEmpty && ids.forall(_.isEmpty))
      throw new IllegalStateException(
        s"bucketMaxFiles($name): none of ${files.length} parquet file " +
          "names carry a _NNNNN bucket suffix — non-bucketed table or a " +
          "changed name scheme; staleness cannot silently read as fresh")
    val perBucket = ids.flatten.groupBy(identity).view.mapValues(_.size)
    if (perBucket.isEmpty) 0 else perBucket.values.max
  }

  /** Compaction-staleness advisory (VERDICT r18 #3 — the adaptive-knob
    * advisory shape applied to file layout): [[appendBucketedTable]] adds
    * one file per touched bucket per fold and breaks the bucket's global
    * sort, silently — nothing on the probe path fails, scans just pay
    * per-file open overhead and sort-merge consumers a per-partition
    * re-sort. This tells an operator WHEN to pay the
    * [[compactBucketedTable]] rewrite: true once any bucket holds more
    * than `maxFilesPerBucket` files (i.e. more than `maxFilesPerBucket −
    * 1` uncompacted appends in the worst bucket). Driver-side file
    * listing, no Spark job — cheap enough to poll per fold. Fires after
    * appends accumulate; clears after compaction (spec-pinned, the
    * staleKnobs contract).
    */
  def indexStale(spark: SparkSession, name: String,
                 maxFilesPerBucket: Int = 3): Boolean =
    bucketMaxFiles(spark, name) > maxFilesPerBucket

  /** Catalog-tracked frontier epoch for a standing maintained table
    * (VERDICT r17 #6): the maintenance rungs used to learn "what epoch is
    * this table at?" by scanning max(epoch) off the data files on every
    * fold — cheap but corpus-proportional, and the scaladoc itself said a
    * production lake tracks this in the catalog. The frontier now lives in
    * a table property, written at build/fold/compact time and read with a
    * driver-side catalog call (NO Spark job over data). The property is
    * also the applied-epoch LEDGER's authority for maintenance families
    * whose folds may append zero rows (ADVICE r17: an empty gram batch
    * recorded no rows, so its epoch was replayable with different
    * content) — recording the epoch in the catalog instead of inferring
    * it from appended rows closes that. `FrontierSpec`-pinned invariant:
    * property == max(epoch) after every non-empty fold.
    */
  private[graft] val FrontierProp = "graft.frontier"

  private[graft] def setFrontier(spark: SparkSession, name: String,
                                 epoch: Long): Unit =
    spark.sql(
      s"ALTER TABLE $name SET TBLPROPERTIES ('$FrontierProp' = '$epoch')")

  /** The table's catalog-tracked frontier, or None for tables written
    * before the property existed (callers fall back to the max(epoch)
    * scan — old warehouse layouts keep working).
    */
  private[graft] def frontier(spark: SparkSession, name: String): Option[Long] =
    spark.sql(s"SHOW TBLPROPERTIES $name").collect()
      .collectFirst { case r if r.getString(0) == FrontierProp =>
        r.getString(1).toLong }

  final case class ResidueTables(orders: String, lineitem: String)

  /** Fraction-window serving layout (VERDICT r15 #5): the r15 fixture
    * change from absolute key ranges (`o_orderkey < 2000`) to fraction
    * windows (`o_orderkey % 3000 < j`) made the workload scale honestly
    * but cost parquet min/max pruning — row-group stats exist for
    * PHYSICAL columns, and a modulo has none. The production answer is
    * a layout, not a query trick: write the fact pair once per dir with
    * the window residue as a REAL column (`wres = key % 3000`),
    * range-partitioned and sorted by it, so every file/row-group covers
    * a narrow residue range and a `wres < j` filter prunes the scan the
    * way `< 2000` did — while `wres` ≡ `key % 3000` keeps the window
    * semantics (and every oracle) unchanged. Paid once at write time,
    * amortized over every CDC/PIT/SCD2 serve against the dir — the d12
    * standing-layout economics applied to the relational fixtures.
    */
  /** The one residue modulus this layout is written with — baked into the
    * table-name suffix; window readers validate their `j` against it
    * (ADVICE r16: a `wres < j` with `j >= ResidueMod` silently reads the
    * whole table as if unpruned, and a caller expecting a different
    * modulus would read a WRONG slice).
    */
  val ResidueMod = 3000

  def ensureResidue(spark: SparkSession, dir: String,
                    files: Int = 16): ResidueTables = {
    import org.apache.spark.sql.functions.pmod
    val suffix = layoutSuffix(dir + s"#res$ResidueMod", files)
    val tables = ResidueTables(s"orders_res_$suffix", s"lineitem_res_$suffix")
    // df by-name: when the table already exists (every call after the
    // first), the source parquet is never opened — schema inference and
    // file listing would otherwise tax every serve with ~0.1 s
    def write(name: String, df: => DataFrame): Unit =
      freshTable(spark, name) {
        df.repartitionByRange(files, col("wres"))
          .sortWithinPartitions("wres")
          .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(name)
      }
    write(tables.orders,
      spark.read.parquet(s"$dir/orders.parquet")
        .withColumn("wres", pmod(col("o_orderkey"),
          org.apache.spark.sql.functions.lit(ResidueMod.toLong))))
    write(tables.lineitem,
      spark.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("wres", pmod(col("l_orderkey"),
          org.apache.spark.sql.functions.lit(ResidueMod.toLong))))
    tables
  }

  def ensure(spark: SparkSession, dir: String, buckets: Int = 8): Tables = {
    val suffix = layoutSuffix(dir, buckets)
    val tables = Tables(s"orders_bkt_$suffix", s"lineitem_bkt_$suffix")
    writeBucketedTable(spark, tables.orders,
      spark.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice"), "o_orderkey", buckets)
    writeBucketedTable(spark, tables.lineitem,
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity")), "l_orderkey", buckets)
    tables
  }
}
