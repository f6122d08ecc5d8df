package graft.sinks

import java.sql.Connection

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Upsert

/** Sink layer (SURVEY §2.1 K1/K2, §7.1 step 6).
  *
  * The reference lands every stream through `pipelinewise-target-postgres`,
  * which upserts on the stream's `key_properties`. Spark has no MERGE for
  * plain JDBC targets, so the upsert contract is: (1) dedup the batch to
  * the latest row per key, (2) write to a staging table, (3) one
  * `INSERT ... SELECT ... ON CONFLICT (pk) DO UPDATE` statement server-side.
  * Idempotent under replays — the at-least-once + upsert contract that
  * makes the reference's post-hoc state write safe (wrike
  * `runner/__init__.py:189-193`).
  *
  * No Postgres JDBC driver ships in this environment (zero egress), so
  * `writeJdbcUpsert` is integration-tested end-to-end against embedded
  * Derby (the "merge" dialect). The PostgreSQL branch's statement
  * sequence is validated against a REAL throwaway Postgres cluster via
  * psql — insert / replay-idempotence / update-wins through actual
  * ON CONFLICT — in PostgresUpsertSpec (gated: cancels where no local
  * postgres binaries exist).
  */
object Sinks {

  /** Upsert statement executed after the staging load (step 3) —
    * PostgreSQL dialect, the reference's target. */
  def upsertSql(table: String, staging: String, columns: Seq[String],
                keyCols: Seq[String]): String = {
    val collist = columns.map(q).mkString(", ")
    val updates = columns.filterNot(keyCols.contains)
      .map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")
    val action =
      if (updates.isEmpty) "DO NOTHING" else s"DO UPDATE SET $updates"
    s"INSERT INTO ${qq(table)} ($collist) SELECT $collist FROM ${qq(staging)} " +
      s"ON CONFLICT (${keyCols.map(q).mkString(", ")}) $action"
  }

  /** ANSI MERGE variant of the upsert (Derby/DB2/SQL Server style) — used
    * by the embedded-Derby integration test and any target without
    * ON CONFLICT. */
  def mergeSql(table: String, staging: String, columns: Seq[String],
               keyCols: Seq[String]): String = {
    val on = keyCols.map(c => s"t.${q(c)} = s.${q(c)}").mkString(" AND ")
    val updates = columns.filterNot(keyCols.contains)
      .map(c => s"t.${q(c)} = s.${q(c)}").mkString(", ")
    val collist = columns.map(q).mkString(", ")
    val values = columns.map(c => s"s.${q(c)}").mkString(", ")
    val whenMatched =
      if (updates.isEmpty) "" else s" WHEN MATCHED THEN UPDATE SET $updates"
    s"MERGE INTO ${qq(table)} t USING ${qq(staging)} s ON $on$whenMatched " +
      s"WHEN NOT MATCHED THEN INSERT ($collist) VALUES ($values)"
  }

  /** CREATE TABLE DDL from the DataFrame schema (K2 — the reference's
    * SCHEMA-message-driven DDL). */
  def ddlFor(table: String, df: DataFrame, keyCols: Seq[String],
             ifNotExists: Boolean = true,
             textType: String = "TEXT"): String = {
    val cols = df.schema.fields.map { f =>
      val t = f.dataType.typeName match {
        case "string" => textType
        case "long" => "BIGINT"
        case "integer" => "INTEGER"
        case "double" => "DOUBLE PRECISION"
        case "boolean" => "BOOLEAN"
        case "timestamp" | "timestamp_ntz" => "TIMESTAMP"
        case "date" => "DATE"
        case "binary" => "BYTEA"
        case other => sys.error(s"no JDBC mapping for $other")
      }
      s"${q(f.name)} $t"
    }
    val pk = if (keyCols.nonEmpty)
      s", PRIMARY KEY (${keyCols.map(q).mkString(", ")})" else ""
    val ine = if (ifNotExists) "IF NOT EXISTS " else ""
    s"CREATE TABLE $ine${qq(table)} (${cols.mkString(", ")}$pk)"
  }

  private def q(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""
  private def qq(table: String): String = table.split('.').map(q).mkString(".")
  /** Spark SQL identifier quoting, for the schema strings Spark parses
    * (`createTableColumnTypes`): flattened names carry a `-`. */
  private def bq(ident: String): String = "`" + ident.replace("`", "``") + "`"

  /** The ordered server-side statements [[writeJdbcUpsert]] executes
    * after the staging load: optional CREATE TABLE, the dialect's merge
    * statement, DROP of the staging table. Pure — this is the golden-
    * testable surface for the PostgreSQL branch, which has no live
    * server in this environment (Derby integration-tests the "merge"
    * branch live; SinksSpec pins this sequence for "postgres"). */
  def upsertStatements(df: DataFrame, table: String, staging: String,
                       keyCols: Seq[String], dialect: String,
                       tableExists: Boolean): Seq[String] = {
    val ddl =
      if (tableExists) Seq.empty
      else Seq(ddlFor(table, df, keyCols,
        ifNotExists = dialect != "merge",
        textType = if (dialect == "merge") "VARCHAR(32000)" else "TEXT"))
    val merge =
      if (dialect == "merge") mergeSql(table, staging, df.columns.toSeq, keyCols)
      else upsertSql(table, staging, df.columns.toSeq, keyCols)
    ddl ++ Seq(merge, s"DROP TABLE ${qq(staging)}")
  }

  /** Full upsert write: batch-dedup -> staging via Spark JDBC -> one
    * server-side merge statement on a driver connection. `dialect`
    * selects the merge statement ("postgres" ON CONFLICT / "merge" ANSI
    * MERGE). Integration-tested end-to-end against embedded Derby. */
  def writeJdbcUpsert(df: DataFrame, jdbcUrl: String, table: String,
                      keyCols: Seq[String], orderCol: String,
                      props: java.util.Properties,
                      connect: () => Connection,
                      dialect: String = "postgres"): Unit = {
    val deduped = Upsert.latestPerKey(df, keyCols, orderCol)
    val staging = table.replace('.', '_') + "_staging"
    // quote the staging identifier so Spark's CREATE and our MERGE agree
    // on case (Derby/Postgres fold unquoted identifiers); force VARCHAR
    // over CLOB for string columns (CLOB is not MERGE-comparable)
    val stringCols = deduped.schema.fields
      .filter(_.dataType.typeName == "string").map(_.name)
    val writer = deduped.write.mode("overwrite")
    val withTypes =
      if (dialect == "merge" && stringCols.nonEmpty)
        writer.option("createTableColumnTypes",
          stringCols.map(c => s"${bq(c)} VARCHAR(32000)").mkString(", "))
      else writer
    withTypes.jdbc(jdbcUrl, qq(staging), props)
    val conn = connect()
    try {
      val st = conn.createStatement()
      try {
        val exists = {
          val rs = conn.getMetaData.getTables(null, null,
            table.split('.').last, null)
          try rs.next() finally rs.close()
        }
        // the exact golden-tested sequence: [DDL?], merge, staging DROP
        val stmts = upsertStatements(deduped, table, staging, keyCols,
          dialect, exists)
        stmts.init.foreach(st.execute)
        try st.execute(stmts.last) // staging cleanup is best-effort
        catch { case _: java.sql.SQLException => () }
      } finally st.close()
    } finally conn.close()
  }

  /** Parquet landing sink, partitioned for pruning at read time. */
  def writeParquet(df: DataFrame, path: String,
                   partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** Bucketed landing table (catalog-managed): co-locates rows by join
    * key so later key-equi joins and aggregates on `bucketCols` run
    * shuffle-free — the 100 TB answer to repeated fact-to-fact joins.
    * Verified by BucketingSpec: a join of two tables bucketed on the same
    * key plans with zero Exchange operators. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil,
                    append: Boolean = false,
                    format: String = "parquet"): Unit = {
    // one writer task per bucket: without this, every upstream
    // partition writes its own file PER bucket (numPartitions×numBuckets
    // small files — measured 508 for a 4.5 MB index table), and every
    // later scan schedules one near-empty task per file. The repartition
    // is the same hash the bucketing uses, so each bucket lands as ONE
    // file; at warehouse scale the bucket count is sized so a bucket is
    // a healthy file (hundreds of MB), which is exactly this layout.
    // append = incremental maintenance (each ingest adds one file per
    // bucket; Spark validates the bucket spec matches the table's).
    // When `df` scans an ALREADY-BUCKETED table on the same keys (a
    // compaction / delete / versioned-merge rewrite), Catalyst elides
    // this repartition as redundant — and the auto-bucketed-scan rule
    // may then split the scan one-partition-per-FILE (no downstream
    // operator "exploits" the bucketing once the exchange is gone), so
    // each task writes its own bucket file and the rewrite PRESERVES
    // the fragmented layout it exists to fix. Forcing bucketed scans
    // inside the write bracket keeps the elision sound: the scan then
    // really is one partition per bucket, and the write lands one file
    // per bucket with no shuffle at all — the cheapest correct plan.
    // (Restore-on-exit; the flag only ever changes scan GROUPING,
    // never results, so a concurrent reader seeing it is unaffected.)
    val spark = df.sparkSession
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val w = df.repartition(numBuckets, bucketCols.map(col): _*)
        .write.mode(if (append) "append" else "overwrite")
        .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
       else w)
        .format(format)
        .saveAsTable(table)
    } finally spark.conf.set(key, prev)
  }

  /** RANGE-CLUSTERED parquet landing — the data layout that makes
    * min/max (zone-map) pruning WORK: rows range-partition on
    * `sortCol` (one contiguous key range per output file) and sort
    * within each file, so every file's parquet footer min/max spans a
    * DISJOINT slice of the key space and a range predicate prunes to
    * the few files that can match — at 100 TB the difference between
    * a scan that reads 3 files and one that reads 30,000 because
    * every file's [min, max] spans the whole domain. The pruning
    * quality is measurable: [[graft.operators.Warehouse.zoneMapAudit]]
    * counts overlapping file ranges (0 after this writer, ~all pairs
    * after a hash-shuffled write). `numFiles` sizes output files the
    * same way [[writeBucketed]]'s bucket count does. */
  def writeRangeClustered(df: DataFrame, path: String, sortCol: String,
                          numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)
  }

  /** Drop a managed table AND its warehouse location. With the
    * in-memory catalog, table METADATA dies with the session but the
    * managed LOCATION under spark-warehouse survives — a fresh JVM
    * re-creating the table would hit LOCATION_ALREADY_EXISTS. The
    * DROP TABLE is a no-op when the catalog has no entry.
    *
    * The location is resolved from CATALOG metadata, never
    * string-built: a live table reports its actual location (and is
    * only swept when MANAGED — dropping an external table must leave
    * its data, the standard catalog contract); a missing table sweeps
    * the catalog's `defaultTablePath` — correct for both `db.table`
    * names and 1-part names in the current/default database, where
    * tables live directly under the warehouse dir, not under a
    * `<db>.db/` prefix. */
  def dropManaged(spark: org.apache.spark.sql.SparkSession,
                  table: String): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc: Option[java.net.URI] =
      if (catalog.tableExists(ident)) {
        val meta = catalog.getTableMetadata(ident)
        if (meta.tableType ==
            org.apache.spark.sql.catalyst.catalog.CatalogTableType.MANAGED)
          Some(meta.location)
        else None
      } else Some(catalog.defaultTablePath(ident))
    spark.sql(s"DROP TABLE IF EXISTS $table")
    loc.foreach { u =>
      val p = new org.apache.hadoop.fs.Path(u)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }
}
