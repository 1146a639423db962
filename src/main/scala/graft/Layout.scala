package graft

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout policies for the 100 TB deployment (SURVEY.md §7.4.3).
  *
  * The reference writes one flat parquet file per dataset
  * (`storage/parquet.py` / `wrds_ingestion.py:1004-1007`) — fine for a
  * laptop, useless at scale. Panel datasets here can be written
  * date-partitioned (`year=YYYY/month=M`) so date-range queries prune
  * whole directories, and entity-bucketed so per-key joins and as-of
  * lookups co-locate without a shuffle.
  */
object Layout {

  /** Write a panel dataset partitioned by (year, month) of its date
    * column. Readers filtering on `dateCol` prune partitions: the scan's
    * PartitionFilters handles year/month directories and row-group stats
    * handle the rest.
    */
  // Reserved partition column names — prefixed so a dataset that already
  // carries its own `year`/`month` columns round-trips untouched.
  // Package-visible: LocalParquetDataHandler derives partition predicates
  // from them when a panel was written through [[writeDatePartitioned]].
  private[graft] val PYear = "_p_year"
  private[graft] val PMonth = "_p_month"

  /** Corpus-scoped root for a standing index/model table:
    * `<warehouse>/<name>_<slug(sfDir)>`. The slug keys the PATH on the
    * corpus, so two JVMs (or one JVM switching SFs) can never serve an
    * index built from a different corpus — the r11 sweep found exactly
    * that: a concurrently running test JVM rebuilt `/ivf_index` from
    * sf0.001 under a Verify run's feet because both processes shared the
    * un-scoped path while each trusted its own in-memory memo. The
    * memo's immutable-corpus assumption (CLAUDE.md) now holds per path
    * by construction.
    */
  def indexBase(spark: SparkSession, sfDir: String, name: String): String = {
    // the readable slug is lossy (distinct dirs differing only in
    // non-alphanumerics collide — ADVICE r11-3); the appended 8-hex
    // MD5 prefix of the RAW dir string makes the path injective, so
    // two such dirs can never thrash rebuilds against one warehouse
    // location
    val raw = sfDir.getBytes("UTF-8")
    val h = java.security.MessageDigest.getInstance("MD5").digest(raw)
      .take(4).map(b => f"$b%02x").mkString
    spark.conf.get("spark.sql.warehouse.dir") + "/" + name + "_" +
      sfDir.replaceAll("[^A-Za-z0-9.]+", "_").stripPrefix("_") + "_" + h
  }

  def writeDatePartitioned(df: DataFrame, path: String,
      dateCol: String = "date"): Unit = {
    require(!df.columns.contains(PYear) && !df.columns.contains(PMonth),
      s"input already has reserved partition columns $PYear/$PMonth")
    df.withColumn(PYear, year(col(dateCol)))
      .withColumn(PMonth, month(col(dateCol)))
      .write.mode("overwrite")
      .partitionBy(PYear, PMonth)
      .parquet(path)
  }

  /** Read a date-partitioned dataset and re-derive the plain schema. */
  def readDatePartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop(PYear, PMonth)

  /** Date-range read over a date-partitioned dataset. A predicate on the
    * *data* column alone does not prune partitions — Spark cannot infer
    * `year/month` bounds from `date BETWEEN …` — so this derives the
    * partition predicates explicitly and conjoins them. This is the read
    * path a 100 TB deployment must use: directory pruning first,
    * row-group stats second.
    */
  def readDateRange(spark: SparkSession, path: String, dateCol: String,
      start: String, end: String): DataFrame = {
    val s = java.sql.Timestamp.valueOf(start + " 00:00:00").toLocalDateTime
    val e = java.sql.Timestamp.valueOf(end + " 00:00:00").toLocalDateTime
    val ym = col(PYear) * 100 + col(PMonth)
    spark.read.parquet(path)
      .filter(ym >= lit(s.getYear * 100 + s.getMonthValue) &&
        ym <= lit(e.getYear * 100 + e.getMonthValue))
      // inclusive end DATE: timestamps carry intraday times, so the upper
      // bound is strictly-before the day after `end`, not `end 00:00:00`
      .filter(col(dateCol) >= lit(start).cast("timestamp") &&
        col(dateCol) < lit(end).cast("timestamp") + expr("INTERVAL 1 DAY"))
      .drop(PYear, PMonth)
  }

  /** Save a dataset as a bucketed+sorted table: joins and aggregations on
    * `keys` between tables bucketed the same way need no shuffle — the
    * exchange that dominates fact-fact joins at 100 TB disappears from
    * the plan entirely (verified in LayoutSpec).
    */
  def saveBucketed(df: DataFrame, table: String, numBuckets: Int,
      keys: Seq[String]): Unit = {
    val spark = df.sparkSession
    // idempotent across JVMs: with the in-memory catalog, a previous
    // process's table DIRECTORY survives in the warehouse while the
    // catalog entry does not — CREATE then refuses the non-empty
    // location. Drop the entry if known, and clear the stale location.
    // The meta entry goes FIRST (clear-memo-BEFORE-rebuild): a crash
    // between the delete below and saveAsTable must leave nothing that
    // ensureBucketedAttached could re-declare over partial files.
    bucketedMeta.remove(table)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    // explicit-path (external) table: a fresh SparkSession in the same
    // JVM can re-ATTACH the surviving files via [[ensureBucketedAttached]]
    // instead of rebuilding — the r11 bench leak where every Bench
    // session silently re-materialized the fuzzy lifecycle tables
    df.write.mode("overwrite")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", loc.toString)
      .format("parquet")
      .saveAsTable(table)
    bucketedMeta(table) = (df.schema.toDDL, numBuckets, keys, loc.toString)
  }

  // table -> (schema DDL, buckets, keys, location) of this JVM's last
  // saveBucketed write — what ensureBucketedAttached re-declares from.
  // JVM-wide on purpose: it must outlive the SparkSession.
  private val bucketedMeta = scala.collection.concurrent.TrieMap[
    String, (String, Int, Seq[String], String)]()

  /** True when `table` is available in THIS session — already in the
    * catalog, or re-attached by declaring the surviving warehouse files
    * of a previous session's [[saveBucketed]] write as an external
    * bucketed table (bucket ids live in the file names, so the declared
    * CLUSTERED BY spec is honored by the reader). A fresh SparkSession
    * loses the in-memory catalog while the files persist; rebuilding per
    * session was the r11 fuzzy-delete bench leak (11.2 s cold vs 3.7 s
    * warm serve). Corpus-consistency stays with the [[Standing.tables]]
    * memo (keyed on dir + geometry) — this only restores the catalog
    * entry.
    */
  def ensureBucketedAttached(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table) || (bucketedMeta.get(table) match {
      case Some((ddl, n, keys, loc)) =>
        val p = new org.apache.hadoop.fs.Path(loc)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // _SUCCESS is the completeness witness: a bare-dir check would
        // re-attach a partially (re)written location (ADVICE r12-1)
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) && {
          val ks = keys.map(k => s"`$k`").mkString(", ")
          spark.sql(s"CREATE TABLE `$table` ($ddl) USING parquet " +
            s"CLUSTERED BY ($ks) SORTED BY ($ks) INTO $n BUCKETS " +
            s"LOCATION '$loc'")
          true
        }
      case None => false
    })
}
