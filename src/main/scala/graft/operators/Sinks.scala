package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Sink semantics (SURVEY.md §2.5, K1-K8): the reference's dup-tolerant
  * INSERT/CREATE family == first-write-wins append. Re-expressed as
  * dedup-before-append on parquet tables so overlapping incremental runs
  * converge instead of multiplying rows.
  */
object Sinks {

  /** Most distinct partition values one [[mergeUpsertPartitioned]]
    * batch may touch (a batch touching more is effectively a full-table
    * merge).
    */
  private val maxPrunedPartitions: Int = 1000

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Signature-family guard for persisted signature/index stores
    * (incremental minhash / simhash / LSH): stamps a `_graft_family`
    * marker recording the hash family + parameters the store was built
    * with, and FAILS LOUDLY when a later writer or reader declares a
    * different family — mixed-family signatures compare as garbage
    * (silently missed near-dups), which is strictly worse than an
    * error. A store with data but no marker predates the stamp (or a
    * signature-family upgrade) and must be rebuilt; a fresh/empty
    * store is stamped on first use.
    */
  def requireFamily(spark: SparkSession, dir: String, family: String): Unit = {
    import org.apache.hadoop.fs.Path
    val marker = new Path(dir, "_graft_family")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val stored =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (stored != family)
        throw new IllegalStateException(
          s"signature store $dir was built with family '$stored' but this " +
          s"build uses '$family'; mixed families produce meaningless " +
          "similarity scores — rebuild the store")
    } else if (fs.exists(new Path(dir)) && fs.listStatus(new Path(dir)).nonEmpty) {
      throw new IllegalStateException(
        s"signature store $dir has data but no _graft_family marker (pre-" +
        s"versioning build); its signatures may not match family '$family' " +
        "— rebuild the store")
    }
    // fresh store: nothing written here — the dir must stay absent so the
    // first append takes its no-existing-table path; call [[stampFamily]]
    // after the append lands.
  }

  /** Write (or idempotently rewrite) the `_graft_family` marker checked
    * by [[requireFamily]]. Underscore-prefixed, so parquet readers skip
    * it like _SUCCESS. Published via write-temp-then-rename so a crash
    * mid-write can never leave a TRUNCATED marker that reads as a
    * different family: the visible file always has complete content (a
    * crash between delete and rename leaves no marker, which
    * [[requireFamily]] already fails loudly on — strictly better than
    * a wrong one).
    */
  def stampFamily(spark: SparkSession, dir: String, family: String): Unit = {
    import org.apache.hadoop.fs.Path
    val marker = new Path(dir, "_graft_family")
    // per-call temp name: two concurrent stampers of the same store must
    // not consume each other's temp (a fixed name made the loser's
    // rename fail spuriously even though a valid marker existed)
    val tmp = new Path(dir, s"._graft_family.${java.util.UUID.randomUUID()}.tmp")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write((family + "\n").getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(marker)) fs.delete(marker, false)
    if (!fs.rename(tmp, marker)) {
      // lost a publish race — success iff the winner stamped the SAME
      // family; a different family is still a hard error
      fs.delete(tmp, false)
      val published =
        try {
          val in = fs.open(marker)
          try new String(
            org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
          finally in.close()
        } catch { case scala.util.control.NonFatal(_) => null }
      if (published != family)
        throw new java.io.IOException(
          s"stampFamily: could not publish $tmp -> $marker " +
            s"(found ${Option(published).getOrElse("no marker")})")
    }
  }

  /** K1/K2/K3: append rows whose key is not already present (duplicate-key
    * tolerant insert). Batch-internal dups collapse first; the anti-join
    * against the current table enforces cross-run idempotency. Without a
    * transactional table format this is the standard idempotent-append
    * shape; Delta/Iceberg MERGE is the production upgrade path.
    */
  def appendDedup(df: DataFrame, path: String, keys: Seq[String]): Unit = {
    val spark = df.sparkSession
    val batch = df.dropDuplicates(keys)
    val fresh =
      if (exists(spark, path))
        batch.join(spark.read.parquet(path).select(keys.map(col): _*), keys, "left_anti")
      else batch
    // Stage the anti-joined batch to durable files FIRST, then move the
    // staged part-files into the table: the scan of the table completes
    // before the target is touched (no read/write race), nothing pins in
    // executor memory (an executor loss mid-staging is an ordinary task
    // retry, where a lost localCheckpoint block failed the batch), and
    // the "append" itself is a metadata-only rename per file — part-file
    // names embed the job UUID, so they cannot collide with existing
    // files. Delta/Iceberg MERGE is the transactional upgrade path.
    import org.apache.hadoop.fs.Path
    // hygiene seam: the staged batch's plan is invisible to the gates
    // once it lands (readers see only the store scan) — hand it to the
    // capture hook before materializing (see graft.plans.Materialize)
    graft.plans.Materialize.record(fresh, s"Sinks.appendDedup($path)")
    val stagePath = path + "__stage-" + java.util.UUID.randomUUID().toString
    fresh.write.mode(SaveMode.Overwrite).parquet(stagePath)
    val src = new Path(stagePath)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(path)
    fs.mkdirs(dst)
    def move(): Unit =
      fs.listStatus(src).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("part-")) {
          val target = new Path(dst, name)
          if (!fs.rename(st.getPath, target))
            throw new java.io.IOException(
              s"appendDedup: staging rename ${st.getPath} -> $target failed")
        }
      }
    // the stage dir is deleted on failure too, so an aborted batch never
    // leaks a __stage dir next to the table. A move interrupted midway
    // leaves the table with PART of the batch, which is safe here by
    // construction: re-running the batch anti-joins against the table
    // again, skips the rows that landed, and re-stages only the missing
    // ones (the same convergence the dedup-append contract guarantees
    // across overlapping runs).
    try move()
    finally fs.delete(src, true)
  }

  /** K1/K2 JDBC parity: dup-tolerant insert into a relational table with a
    * unique/PK constraint, the reference's `INSERT ... ON CONFLICT DO
    * NOTHING` path (etl_task.py:449-524, utils/etl.py:87-120). One
    * connection per partition (`foreachPartition`), never per row.
    *
    * Dialect split:
    *  - postgres: the genuine `ON CONFLICT DO NOTHING` statement, batched
    *    `executeBatch` every `batchSize` rows — the 100 TB shape (conflict
    *    resolution server-side, one round trip per batch).
    *  - other dialects (Derby/H2/...): per-row insert catching the
    *    integrity-violation SQLState class 23xxx — exactly the reference's
    *    try/except-constraint-error loop, kept as the portable fallback.
    */
  /** The statement [[appendJdbc]] prepares, exposed so specs can assert
    * the exact SQL text per dialect: against Postgres it is the
    * reference's dup-tolerant form — a plain parameterized INSERT with
    * the `ON CONFLICT DO NOTHING` clause appended (ref
    * `src/movie_etl/tasks/etl_task.py:509-513`); every other dialect
    * gets the bare INSERT and relies on the client-side
    * constraint-violation swallow.
    */
  private[graft] def insertStatement(table: String, cols: Seq[String],
                                     url: String): String = {
    val base = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    if (url.startsWith("jdbc:postgresql")) base + " ON CONFLICT DO NOTHING" else base
  }

  def appendJdbc(df: DataFrame, url: String, table: String,
                 batchSize: Int = 500,
                 properties: java.util.Properties = new java.util.Properties): Unit = {
    val cols = df.schema.fieldNames
    val insertSql = insertStatement(table, cols, url)
    val serverSideConflicts = url.startsWith("jdbc:postgresql")
    val sqlTypes: Array[Int] = df.schema.fields.map(f => f.dataType match {
      case org.apache.spark.sql.types.LongType      => java.sql.Types.BIGINT
      case org.apache.spark.sql.types.IntegerType   => java.sql.Types.INTEGER
      case org.apache.spark.sql.types.ShortType     => java.sql.Types.SMALLINT
      case org.apache.spark.sql.types.DoubleType    => java.sql.Types.DOUBLE
      case org.apache.spark.sql.types.FloatType     => java.sql.Types.FLOAT
      case org.apache.spark.sql.types.BooleanType   => java.sql.Types.BOOLEAN
      case org.apache.spark.sql.types.TimestampType => java.sql.Types.TIMESTAMP
      case org.apache.spark.sql.types.DateType      => java.sql.Types.DATE
      case _                                        => java.sql.Types.VARCHAR
    })
    val props = new java.util.Properties(); props.putAll(properties)
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        conn.setAutoCommit(!serverSideConflicts)
        val ps = conn.prepareStatement(insertSql)
        var inBatch = 0
        rows.foreach { r =>
          var i = 0
          while (i < cols.length) {
            val v = r.get(i)
            if (v == null) ps.setNull(i + 1, sqlTypes(i)) else ps.setObject(i + 1, v)
            i += 1
          }
          if (serverSideConflicts) {
            ps.addBatch()
            inBatch += 1
            if (inBatch >= batchSize) { ps.executeBatch(); conn.commit(); inBatch = 0 }
          } else {
            try ps.executeUpdate()
            catch {
              // SQLState class 23 = integrity constraint violation: the
              // row already exists; first write wins, as in the reference
              case e: java.sql.SQLException if e.getSQLState != null &&
                e.getSQLState.startsWith("23") => ()
            }
          }
        }
        if (serverSideConflicts && inBatch > 0) { ps.executeBatch(); conn.commit() }
        ps.close()
      } finally conn.close()
    }
  }

  /** K4: edge append keyed on (rel_type, relationship_id). */
  def appendEdges(df: DataFrame, path: String): Unit =
    appendDedup(df, path, Seq("rel_type", "relationship_id"))

  /** K5: bulk seed from CSV with an explicit schema (LOAD CSV ... MERGE). */
  def seedFromCsv(spark: SparkSession, path: String, schema: StructType,
                  keys: Seq[String]): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)
      .dropDuplicates(keys)

  /** K6 `load_relationship_from_csv_to_kg` (kg_task.py:104-128): bulk
    * edge load from a headers CSV. The reference's Cypher is broken as
    * written — `MERGE (r:RelLabel {...})` creates a NODE carrying the
    * relationship label, and both MATCH clauses bind `row.id` — and the
    * task is called from no flow; this is the INTENDED semantics: load
    * the edge rows, keep only edges whose endpoints exist (the MATCH
    * clauses), and first-write-wins append into the relationship store
    * keyed on (rel_type, relationship_id), so replaying the same CSV
    * converges like every other sink here.
    */
  def bulkEdgesFromCsv(spark: SparkSession, path: String, schema: StructType,
                       heads: DataFrame, tails: DataFrame,
                       headKey: String, tailKey: String, relType: String,
                       sinkPath: String, broadcastTails: Boolean = false): Unit = {
    val candidates = spark.read.schema(schema).option("header", "true").csv(path)
    val edges = Graph.buildEdges(candidates, heads, tails, headKey, tailKey,
      relType, broadcastTails)
    appendEdges(edges, sinkPath)
  }

  /** K7: column-projected CSV export. */
  def writeCsv(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.select(cols.map(col): _*).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  /** A node table staged for KG export: Neo4j label, rows, and the key
    * property the MERGE de-duplicates on (K3's first-write-wins key).
    */
  final case class KgNodeExport(label: String, df: DataFrame, key: String)

  /** An edge table staged for KG export: relationship type, rows (the
    * [[Graph.buildEdges]] shape — endpoint keys + `relationship_id`),
    * and the endpoint labels/keys the MATCH clauses bind.
    */
  final case class KgEdgeExport(relType: String, df: DataFrame,
                                headLabel: String, headKey: String,
                                tailLabel: String, tailKey: String)

  private val cypherIdent = "[A-Za-z_][A-Za-z0-9_]*".r

  private def requireIdent(s: String, what: String): Unit =
    require(cypherIdent.matches(s),
      s"$what '$s' is not a plain Cypher identifier; refusing to " +
        "interpolate it into a generated script")

  /** Export the KG tables as Neo4j-loadable artifacts: one headers CSV
    * per node/edge table under `baseDir` plus a generated
    * `load_kg.cypher` MERGE script (returned, and written next to the
    * CSVs). This is the sink-parity twin of the reference's LOAD CSV
    * path (`kg_task.py:85-128`, `kg_flow.py:18-31`) with its two bugs
    * fixed to the INTENDED semantics (the same reading
    * [[bulkEdgesFromCsv]] implements):
    *
    *   - nodes: the reference MERGEs on EVERY property column, so two
    *     rows differing in any attribute become distinct nodes; here the
    *     MERGE pattern carries only the key and `ON CREATE SET` fills
    *     the rest — first-write-wins, the K3 contract, so replaying the
    *     script converges.
    *   - edges: the reference's `MERGE (r:RelLabel {...})` creates a
    *     NODE wearing the relationship label, and both MATCHes bind
    *     `row.id`; here the MATCHes bind head/tail keys and the MERGE
    *     is a real relationship keyed on `relationship_id` (the
    *     (rel_type, relationship_id) appendEdges key), so rows with
    *     missing endpoints drop exactly like buildEdges' semi-joins.
    *
    * Each CSV lands as ONE file (`nodes_<label>.csv` /
    * `edges_<relType>.csv`): LOAD CSV reads a single file from the
    * import dir. That single-file coalesce makes this the
    * dimension-scale interchange path by design — fact-scale graphs go
    * through `neo4j-admin database import` from the sharded
    * [[writeCsv]] output instead, and node/edge tables of a KG are
    * dimension-sized here (the reference's whole graph is a few
    * hundred k rows). Labels/keys/columns are validated as plain
    * identifiers before interpolation.
    */
  def exportKgCsv(spark: SparkSession, nodes: Seq[KgNodeExport],
                  edges: Seq[KgEdgeExport], baseDir: String): String = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    def writeSingleCsv(df: DataFrame, fileName: String): Unit = {
      val tmp = new Path(baseDir, s".$fileName.tmp")
      df.coalesce(1).write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(tmp.toString)
      val part = fs.listStatus(tmp)
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(
          s"csv write produced no part file under $tmp"))
      val dest = new Path(baseDir, fileName)
      fs.delete(dest, false)
      if (!fs.rename(part, dest))
        throw new IllegalStateException(s"could not move $part to $dest")
      fs.delete(tmp, true)
    }

    val script = new StringBuilder
    nodes.foreach { n =>
      requireIdent(n.label, "node label"); requireIdent(n.key, "node key")
      n.df.columns.foreach(requireIdent(_, "node property"))
      require(n.df.columns.contains(n.key),
        s"node table ${n.label} is missing its key column ${n.key}")
      val file = s"nodes_${n.label}.csv"
      writeSingleCsv(n.df, file)
      val props = n.df.columns.filterNot(_ == n.key)
      script ++= s"LOAD CSV WITH HEADERS FROM 'file:///$file' AS row\n"
      script ++= s"MERGE (n:${n.label} {${n.key}: row.${n.key}})\n"
      if (props.nonEmpty)
        script ++= props.map(p => s"n.$p = row.$p")
          .mkString("ON CREATE SET ", ", ", "\n")
      script ++= ";\n\n"
    }
    edges.foreach { e =>
      requireIdent(e.relType, "relationship type")
      requireIdent(e.headLabel, "head label"); requireIdent(e.headKey, "head key")
      requireIdent(e.tailLabel, "tail label"); requireIdent(e.tailKey, "tail key")
      e.df.columns.foreach(requireIdent(_, "edge property"))
      Seq(e.headKey, e.tailKey, "relationship_id").foreach { c =>
        require(e.df.columns.contains(c),
          s"edge table ${e.relType} is missing column $c")
      }
      val file = s"edges_${e.relType}.csv"
      writeSingleCsv(e.df, file)
      script ++= s"LOAD CSV WITH HEADERS FROM 'file:///$file' AS row\n"
      script ++= s"MATCH (h:${e.headLabel} {${e.headKey}: row.${e.headKey}})\n"
      script ++= s"MATCH (t:${e.tailLabel} {${e.tailKey}: row.${e.tailKey}})\n"
      script ++= s"MERGE (h)-[r:${e.relType} " +
        "{relationship_id: row.relationship_id}]->(t);\n\n"
    }
    val out = script.result()
    val scriptPath = new Path(baseDir, "load_kg.cypher")
    val os = fs.create(scriptPath, true)
    try os.write(out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    out
  }

  /** Versioned table commits — time travel on plain parquet: every
    * commit lands a new IMMUTABLE `v<N>` directory and then swaps a
    * `_latest` pointer file (write-temp-then-rename, so a reader never
    * observes a torn pointer). Old versions stay readable forever =
    * snapshot isolation for free: a 100 TB training run pins the
    * version it started from while ingestion keeps committing, and a
    * bad commit "rolls back" by pointing a new commit at the old data.
    * Single-writer by contract (the reference pipeline is a weekly
    * single flow); concurrent writers need a lock service this module
    * deliberately does not fake.
    */
  def commitVersion(df0: DataFrame, tableDir: String): Int = {
    import org.apache.hadoop.fs.{FileContext, Options, Path}
    val df = graft.plans.Materialize.record(df0,
      s"Sinks.commitVersion($tableDir)")
    val spark = df.sparkSession
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = listVersions(spark, tableDir).lastOption.getOrElse(0) + 1
    df.write.mode(SaveMode.ErrorIfExists).parquet(s"$tableDir/v$next")
    val tmp = new Path(tableDir, "_latest.tmp")
    val ptr = new Path(tableDir, "_latest")
    // The pointer path must stay CRC-SIDECAR-FREE on checksummed local
    // filesystems: ChecksumFileSystem renames the data file and its
    // `.crc` as two separate steps, so a reader racing the swap could
    // verify the NEW pointer bytes against the OLD crc and die with a
    // ChecksumException (observed in SinksFormatsSpec's race test).
    // Writing and renaming through the raw filesystem never creates a
    // sidecar, and POSIX rename(2) (what RawLocalFileSystem.renameTo
    // maps to) is an atomic overwrite — the reader sees old or new
    // bytes, never a gap and never a stale checksum.
    val praw = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    // one-time migration: drop any crc sidecar an older writer left so
    // checksum-opening readers can't verify the raw-written pointer
    // against stale bytes
    if (!(praw eq fs))
      praw.delete(new Path(tableDir, "._latest.crc"), false)
    val os = praw.create(tmp, true)
    try os.write(next.toString.getBytes("UTF-8")) finally os.close()
    if (!(praw eq fs)) {
      // raw local rename: File.renameTo == rename(2), single-step
      // atomic overwrite, no crc sidecar involved on either side
      if (!praw.rename(tmp, ptr) && !praw.exists(ptr))
        throw new IllegalStateException(
          s"failed to swap _latest pointer in $tableDir")
    } else try {
      // HDFS-like stores: single-step rename-overwrite via FileContext
      // (not the two-step delete+rename FileSystem offers): a concurrent
      // readVersion(None) sees either the old pointer or the new one,
      // never a gap. Object stores implement rename as copy+delete, and
      // filesystems without an AbstractFileSystem binding (s3a/gs unless
      // fs.AbstractFileSystem.*.impl is configured) can't serve
      // FileContext at all, so fall back to the two-step FileSystem
      // swap there: a reader racing the swap may observe a missing
      // pointer, which readVersion already handles via the
      // _SUCCESS-gated newest-version fallback.
      val fc = FileContext.getFileContext(new Path(tableDir).toUri,
        spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, ptr, Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        fs.delete(ptr, false)
        if (!fs.rename(tmp, ptr))
          throw new IllegalStateException(
            s"failed to swap _latest pointer in $tableDir")
    }
    next
  }

  /** Committed versions in ascending order (directory listing of the
    * immutable v<N> dirs — metadata-scale).
    */
  def listVersions(spark: SparkSession, tableDir: String): Seq[Int] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(tableDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.matches("v[0-9]+") => n.drop(1).toInt }
      .sorted
  }

  /** Read a pinned version, or follow the `_latest` pointer when
    * `version` is None. A missing version or a table with no commits
    * fails loudly — silently reading nothing is how a training run
    * trains on an empty corpus.
    */
  def readVersion(spark: SparkSession, tableDir: String,
                  version: Option[Int] = None): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.getOrElse {
      val ptr = new Path(tableDir, "_latest")
      if (fs.exists(ptr)) {
        val in = fs.open(ptr)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        finally in.close()
      } else {
        // pointer missing but commits exist: a writer crashed between
        // landing v<N> and swapping the pointer — the newest COMPLETE
        // immutable version IS the latest durable commit, so serve it
        // instead of failing a table that has data. "Complete" is
        // gated on parquet's _SUCCESS marker: a writer that died
        // mid-df.write leaves a v<N> directory with no _SUCCESS, and
        // serving that partial corpus silently is exactly the failure
        // this module's contract refuses.
        listVersions(spark, tableDir).reverse.find { n =>
          fs.exists(new Path(s"$tableDir/v$n", "_SUCCESS"))
        }.getOrElse(throw new IllegalStateException(
          s"$tableDir has no _latest pointer and no complete " +
            "(_SUCCESS-marked) committed versions"))
      }
    }
    val path = s"$tableDir/v$v"
    if (!fs.exists(new Path(path)))
      throw new IllegalStateException(s"version v$v does not exist in $tableDir")
    spark.read.parquet(path)
  }

  /** Write a whole graph build (node + edge tables) idempotently. */
  def writeGraph(tables: graft.pipeline.MovieGraph.GraphTables, baseDir: String,
                 nodeKeys: Map[String, String]): Unit = {
    tables.nodes.foreach { case (label, df) =>
      appendDedup(df, s"$baseDir/nodes_$label", Seq(nodeKeys(label)))
    }
    tables.edges.foreach { case (relType, df) =>
      appendEdges(df, s"$baseDir/edges_$relType")
    }
  }

  /** Snapshot delta — the week-over-week diff of an incrementally
    * maintained table: (key, change) for every key that was added,
    * removed, or changed between two versions; unchanged rows never
    * leave the join. Non-key columns compare null-safely as one struct,
    * so a NULL payload field is a value, not a wildcard.
    *
    * One full-outer shuffle on the key; with both snapshots bucketed by
    * the key (see [[writeBucketedAt]]) the exchange disappears and the
    * diff is a zipped per-bucket merge.
    */
  def diffSnapshots(prev: DataFrame, cur: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{lit, struct, when}
    val nonKeys = cur.columns.filterNot(keys.contains).toSeq
    val p = prev.select((keys.map(col) :+
      struct(nonKeys.map(col): _*).as("__p")): _*).withColumn("__pe", lit(1))
    val c = cur.select((keys.map(col) :+
      struct(nonKeys.map(col): _*).as("__c")): _*).withColumn("__ce", lit(1))
    p.join(c, keys, "full_outer")
      .withColumn("change",
        when(col("__pe").isNull, "added")
          .when(col("__ce").isNull, "removed")
          .when(!(col("__p") <=> col("__c")), "changed"))
      .filter(col("change").isNotNull)
      .select((keys.map(col) :+ col("change")): _*)
  }

  /** Bucketed table write at an explicit location (external table):
    * co-locates join keys so equi-joins between tables bucketed the same
    * way need NO shuffle — the batch analog of pre-partitioning a 100 TB
    * fact table once to serve many joins. The parquet lands under `path`,
    * not the session warehouse, the form a pipeline uses to park
    * bucketed intermediates on scratch/object storage. Any prior registration of
    * `table` is dropped first (the files of a previous EXTERNAL
    * registration are the caller's to manage), so re-runs re-register
    * cleanly against their own fresh path.
    */
  def writeBucketedAt(df: DataFrame, table: String, key: String, buckets: Int,
                      path: String): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `$table`")
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path)
      .format("parquet").saveAsTable(table)
  }

  /** Partitioned-by-value write: predicates on the partition column prune
    * whole directories at planning time (PartitionFilters), the coarse
    * data-skipping layer under the parquet min/max stats.
    */
  def writePartitioned(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(path)

  /** Small-file compaction: rewrite a parquet table into
    * ceil(bytes / targetFileBytes) files. Incremental appends (the
    * appendDedup loop, streaming foreachBatch) accrete files far below
    * the scan-efficient size; at 100 TB the resulting open/seek/footer
    * overhead — and driver-side listing — dominates reads long before
    * row decoding does. Staged rewrite: the compacted copy lands in a
    * sibling temp dir first, then swaps in via two renames; a crash
    * inside the swap leaves the table at exactly one well-known
    * sibling, and the next call rolls it forward or back before doing
    * anything else — readers during the swap window still race, which
    * is the residual transactionality a table format like
    * Delta/Iceberg closes with an atomic manifest commit. Refuses
    * hive-partitioned layouts (compact per partition instead).
    * Returns the new file count.
    */
  def compact(spark: SparkSession, path: String, targetFileBytes: Long): Int = {
    var nFiles = 0
    stagedReplace(spark, path, "compact") { (fs, p, tmpDir) =>
      require(!fs.listStatus(p).exists(s =>
          s.isDirectory && s.getPath.getName.contains("=")),
        s"compact: $path is hive-partitioned; compact each partition " +
          "directory individually so the layout (and its pruning) survives")
      val bytes = fs.getContentSummary(p).getLength
      nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      // repartition, not coalesce: coalesce(1-ish) would collapse the
      // READ parallelism of the job itself; the shuffle is the price of
      // an even rewrite and is proportional to the table, run it off-peak
      spark.read.parquet(path).repartition(nFiles)
        .write.mode(SaveMode.Overwrite).parquet(tmpDir)
    }
    nFiles
  }

  /** MERGE/upsert into a parquet table: matched keys take the batch's
    * row (batch-internal duplicates collapse first, dropDuplicates
    * semantics, matching [[appendDedup]]), unmatched stored rows
    * survive, new keys append. Plain parquet has no row-level update,
    * so the merge is a full rewrite through the same staged-swap
    * protocol as [[compact]] (crash inside the swap → the next call
    * rolls forward or back — checked BEFORE the first-write test, so a
    * stranded table is never mistaken for an empty one). The key match
    * is null-safe, so replaying the same batch is idempotent even with
    * null key values. At 100 TB the rewrite cost is the argument FOR a
    * table format's row-level MERGE; until then, partition the table
    * and merge only the touched partitions.
    */
  def mergeUpsert(df0: DataFrame, path: String, keys: Seq[String]): Unit = {
    require(keys.nonEmpty)
    val df = graft.plans.Materialize.record(df0, s"Sinks.mergeUpsert($path)")
    val spark = df.sparkSession
    val batch = df.dropDuplicates(keys)
    // recover a stranded predecessor FIRST: treating "no table at path"
    // as first-write while a fully-written .tmp/.old sibling exists
    // would shadow (and later delete) every pre-crash row
    val live = recoverStaged(spark, path, "merge") || exists(spark, path)
    if (!live) { batch.write.parquet(path); return }
    stagedReplace(spark, path, "merge") { (_, _, tmpDir) =>
      val cur = spark.read.parquet(path)
      val curTypes = cur.schema.map(f => f.name -> f.dataType).toMap
      val dfTypes = batch.schema.map(f => f.name -> f.dataType).toMap
      require(curTypes == dfTypes,
        s"mergeUpsert: schema mismatch ${cur.schema.sql} vs ${batch.schema.sql}")
      val probe = batch.select(keys.map(col): _*)
      val cond = keys.map(k => cur(k) <=> probe(k)).reduce(_ && _)
      cur.join(probe, cond, "left_anti")
        .unionByName(batch)
        .write.mode(SaveMode.Overwrite).parquet(tmpDir)
    }
  }

  /** The staged-swap write protocol shared by [[compact]] and
    * [[mergeUpsert]]: recover any crashed predecessor (the table is at
    * exactly one of `.tmp` — fully written, roll forward — or `.old` —
    * staged out, roll back), run `write` into a fresh `.tmp` sibling,
    * then swap via two renames and drop `.old`.
    */
  /** Partition-scoped MERGE/upsert: the 100 TB shape [[mergeUpsert]]'s
    * doc points at. The batch's distinct partition values (driver-held
    * metadata, capped like [[appendDedup]]'s pruning list) scope BOTH
    * sides: the stored read partition-prunes to touched partitions
    * only, and the write uses dynamic partition overwrite, so only
    * those directories are replaced — merge cost is proportional to
    * touched data, not the table.
    *
    * Contract: a key's partition value must be stable across batches
    * (a row "moving" partitions would leave its old version alive in
    * the untouched directory — the same rule every partitioned MERGE
    * imposes short of a full scan). `strict = true` buys detection of a
    * violation at the cost of one column-pruned scan of (keys, partCol)
    * over the UNTOUCHED remainder: any batch key found there fails the
    * merge before a byte is written. Null partition values are rejected
    * up front — `isin` pruning is null-unsafe, so a null-partition batch
    * row would silently skip reading the stored null partition while
    * dynamic overwrite still replaced its directory, deleting every
    * unmatched pre-existing row in it.
    *
    * Crash safety: dynamic partition overwrite commits by replacing each
    * touched partition directory at job commit — per-directory renames,
    * NOT one atomic swap. A crash mid-commit can leave some touched
    * partitions updated and others stale; the merge is idempotent
    * (replaying the same batch converges), so the recovery is re-run,
    * unlike [[mergeUpsert]]/[[compact]] whose staged swap leaves a
    * roll-forward/back marker. That narrower guarantee is the price of
    * not rewriting the whole table.
    */
  def mergeUpsertPartitioned(df0: DataFrame, path: String, keys: Seq[String],
                             partCol: String,
                             strict: Boolean = false): Unit = {
    require(keys.nonEmpty)
    val df = graft.plans.Materialize.record(df0,
      s"Sinks.mergeUpsertPartitioned($path)")
    val spark = df.sparkSession
    val batch = df.dropDuplicates(keys)
    if (!exists(spark, path)) {
      batch.write.partitionBy(partCol).parquet(path)
      return
    }
    val parts = batch.select(partCol).distinct().limit(maxPrunedPartitions + 1).collect()
      .map(_.get(0))
    require(!parts.contains(null),
      s"mergeUpsertPartitioned: batch has rows with null $partCol — null " +
        "partition values cannot be pruned safely; filter or default them first")
    require(parts.length <= maxPrunedPartitions,
      s"mergeUpsertPartitioned: batch touches > $maxPrunedPartitions partitions — " +
        "effectively a full-table merge; use mergeUpsert or raise the cap")
    val cur = spark.read.parquet(path)
      .filter(col(partCol).isin(parts: _*)) // planning-time partition pruning
    // the same type-drift guard as mergeUpsert: unionByName would
    // otherwise coerce a retyped batch column and silently rewrite every
    // touched partition with coerced values
    val curTypes = cur.schema.map(f => f.name -> f.dataType).toMap
    val dfTypes = batch.schema.map(f => f.name -> f.dataType).toMap
    require(curTypes == dfTypes,
      s"mergeUpsertPartitioned: schema mismatch ${cur.schema.sql} vs ${batch.schema.sql}")
    if (strict) {
      val remainder = spark.read.parquet(path)
        .filter(!col(partCol).isin(parts: _*) || col(partCol).isNull)
      val bKeys = batch.select(keys.map(col): _*)
      val moved = remainder.join(bKeys,
          keys.map(k => remainder(k) <=> bKeys(k)).reduce(_ && _), "left_semi")
        .select((keys :+ partCol).map(col): _*)
      val sample = moved.limit(3).collect()
      require(sample.isEmpty,
        s"mergeUpsertPartitioned: batch keys exist in untouched partitions " +
          s"(a key changed its $partCol value) — merging would leave stale " +
          s"rows alive there. Examples: ${sample.mkString(", ")}")
    }
    val probe = batch.select(keys.map(col): _*)
    cur.join(probe, keys.map(k => cur(k) <=> probe(k)).reduce(_ && _), "left_anti")
      .unionByName(batch.select(cur.columns.map(col): _*))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(path)
  }

  /** Every op that stages through [[stagedReplace]]. Recovery scans ALL
    * of them: a table stranded mid-compact must be rolled forward by a
    * subsequent mergeUpsert too, or the merge's first-write test would
    * mistake the stranded table for an empty one and shadow every
    * pre-crash row.
    */
  private val stagedOps = Seq("merge", "compact")

  /** Recovery half of the protocol, callable on its own: if nothing
    * lives at `path` but a stranded `.tmp` (fully written — roll
    * forward) or `.old` (staged out — roll back) sibling from ANY
    * staged op does, restore it. A `.tmp` wins over any `.old`: the tmp
    * is a complete newer table, the old a complete predecessor; at most
    * one op can be stranded per path (ops on one table are sequential),
    * so the scan is a safety net, not an arbitration. Returns whether a
    * table now exists at `path`.
    */
  private def recoverStaged(spark: SparkSession, path: String, op: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      val candidates =
        stagedOps.map(o => (new Path(path + s".$o.tmp"), new Path(path + s".$o.old"))) ++
        stagedOps.map(o => (new Path(path + s".$o.old"), new Path(path + s".$o.tmp")))
      candidates.find(c => fs.exists(c._1)).foreach { case (c, sibling) =>
        require(fs.rename(c, p), s"$op: could not restore stranded $c")
        // the losing sibling is now a superseded copy; deleting it here
        // keeps a long-stale .old from ever being resurrected by a later
        // recovery scan
        fs.delete(sibling, true)
      }
    }
    fs.exists(p)
  }

  private def stagedReplace(spark: SparkSession, path: String, op: String)(
      write: (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path, String) => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + s".$op.tmp")
    val old = new Path(path + s".$op.old")
    if (!recoverStaged(spark, path, op))
      throw new IllegalArgumentException(s"$op: no table at $path")
    fs.delete(tmp, true)
    write(fs, p, tmp.toString)
    fs.delete(old, true)
    require(fs.rename(p, old), s"$op: could not stage out $path")
    require(fs.rename(tmp, p), s"$op: could not swap in $tmp")
    fs.delete(old, true)
  }

  /** Default node-label -> key-column mapping for the movie graph. */
  val movieGraphKeys: Map[String, String] = Map(
    "Movie" -> "movie_id", "Collection" -> "collection_id",
    "Company" -> "company_id", "Person" -> "person_id",
    "Genre" -> "genre_id", "Language" -> "language_id",
    "Country" -> "country_id", "WatchProvider" -> "provider_id")
}
