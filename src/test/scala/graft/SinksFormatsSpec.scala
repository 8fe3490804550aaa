package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Sinks
import graft.schema.Dimensions

/** Sink/source format coverage: CSV seed round trip (K5/K7), ORC round
  * trip, and the typed Dataset twin of the q1 aggregation.
  */
class SinksFormatsSpec extends SparkTestBase {
  import spark.implicits._

  test("compact: many small files collapse to the target count, data intact") {
    val dir = Files.createTempDirectory("graft_compact_").toString + "/t"
    val df = spark.range(0, 10000).selectExpr("id", "id % 7 AS g")
    df.repartition(32).write.parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles == 32)
    val before = spark.read.parquet(dir).agg(org.apache.spark.sql.functions.sum("id"))
      .head().getLong(0)

    val tableBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val n = Sinks.compact(spark, dir, targetFileBytes = tableBytes / 4 + 1)
    assert(n == 4 && parquetFiles == 4, s"expected 4 files, got $parquetFiles")
    val after = spark.read.parquet(dir)
    assert(after.count() == 10000)
    assert(after.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) == before)
    assert(!new java.io.File(dir + ".compact.tmp").exists())
    assert(!new java.io.File(dir + ".compact.old").exists())
  }

  test("compact: recovers a table stranded mid-swap by a crash") {
    val dir = Files.createTempDirectory("graft_compact_rec_").toString + "/t"
    spark.range(0, 1000).repartition(8).write.parquet(dir)
    def mv(a: String, b: String) =
      assert(new java.io.File(a).renameTo(new java.io.File(b)))

    // crash after stage-out (table at .old, no tmp): roll back, then compact
    mv(dir, dir + ".compact.old")
    Sinks.compact(spark, dir, targetFileBytes = Long.MaxValue)
    assert(spark.read.parquet(dir).count() == 1000)

    // crash after tmp fully written (table gone, tmp present): roll forward
    mv(dir, dir + ".compact.tmp")
    Sinks.compact(spark, dir, targetFileBytes = Long.MaxValue)
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("mergeUpsert: updates matched, keeps unmatched, appends new; replay idempotent") {
    val dir = Files.createTempDirectory("graft_merge_").toString + "/t"
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v").write.parquet(dir)
    val batch = Seq((2L, "b2", 99.0), (4L, "d", 40.0)).toDF("k", "name", "v")

    Sinks.mergeUpsert(batch, dir, Seq("k"))
    def snapshot = spark.read.parquet(dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    val want = Seq((1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0))
    assert(snapshot == want)

    Sinks.mergeUpsert(batch, dir, Seq("k")) // replay converges
    assert(snapshot == want)
    assert(!new java.io.File(dir + ".merge.tmp").exists())
    assert(!new java.io.File(dir + ".merge.old").exists())
  }

  test("mergeUpsert: first write creates the table; name and TYPE drift rejected") {
    val dir = Files.createTempDirectory("graft_merge_new_").toString + "/t"
    val batch = Seq((1L, "a")).toDF("k", "name")
    Sinks.mergeUpsert(batch, dir, Seq("k"))
    assert(spark.read.parquet(dir).count() == 1)
    val renamed = Seq((2L, 5.0)).toDF("k", "other")
    assert(intercept[IllegalArgumentException] {
      Sinks.mergeUpsert(renamed, dir, Seq("k"))
    }.getMessage.contains("schema mismatch"))
    // same names, k typed as string: silent coercion would rewrite the table
    val retyped = Seq(("2", "b")).toDF("k", "name")
    assert(intercept[IllegalArgumentException] {
      Sinks.mergeUpsert(retyped, dir, Seq("k"))
    }.getMessage.contains("schema mismatch"))
  }

  test("mergeUpsert: recovers a table stranded mid-swap instead of treating it as first write") {
    val dir = Files.createTempDirectory("graft_merge_rec_").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "name").write.parquet(dir)
    // simulate a crash between the two swap renames: table fully at .tmp
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".merge.tmp")))
    Sinks.mergeUpsert(Seq((3L, "c")).toDF("k", "name"), dir, Seq("k"))
    val got = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "pre-crash rows must survive — a stranded table is NOT an empty one")
  }

  test("mergeUpsert: null keys replay idempotently; batch-internal dups collapse") {
    val dir = Files.createTempDirectory("graft_merge_null_").toString + "/t"
    val batch = Seq((Some(1L), "a"), (None, "nullkey"), (Some(2L), "b1"), (Some(2L), "b1"))
      .toDF("k", "name")
    Sinks.mergeUpsert(batch, dir, Seq("k"))
    Sinks.mergeUpsert(batch, dir, Seq("k")) // replay
    val rows = spark.read.parquet(dir).collect()
    assert(rows.length == 3, s"1, null, 2 — no replay duplication: ${rows.toSeq}")
    assert(rows.count(_.isNullAt(0)) == 1, "the null-key row merged null-safely")
  }

  test("mergeUpsertPartitioned rewrites ONLY touched partitions, replay idempotent") {
    val dir = Files.createTempDirectory("graft_merge_part_").toString + "/t"
    Sinks.mergeUpsertPartitioned(
      Seq((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p3")).toDF("k", "name", "part"),
      dir, Seq("k"), "part")

    def partFiles(p: String) = new java.io.File(s"$dir/part=$p").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified()).toSet
    val p2Before = partFiles("p2")
    val p3Before = partFiles("p3")

    // touch only p1: update k=1, insert k=4
    val batch = Seq((1L, "a2", "p1"), (4L, "d", "p1")).toDF("k", "name", "part")
    Sinks.mergeUpsertPartitioned(batch, dir, Seq("k"), "part")

    val got = spark.read.parquet(dir).select("k", "name")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a2"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(partFiles("p2") == p2Before && partFiles("p3") == p3Before,
      "untouched partitions must keep their exact files — merge cost is per touched partition")

    Sinks.mergeUpsertPartitioned(batch, dir, Seq("k"), "part") // replay
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("mergeUpsertPartitioned: strict mode fails loudly when a key changes partition") {
    val dir = Files.createTempDirectory("graft_merge_strict_").toString + "/t"
    Sinks.mergeUpsertPartitioned(
      Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "name", "part"),
      dir, Seq("k"), "part")
    // k=2 moves p2 -> p1: the pruned merge would leave the stale p2 row alive
    val moved = Seq((2L, "b2", "p1")).toDF("k", "name", "part")
    val e = intercept[IllegalArgumentException] {
      Sinks.mergeUpsertPartitioned(moved, dir, Seq("k"), "part", strict = true)
    }
    assert(e.getMessage.contains("untouched partitions"), e.getMessage)
    // nothing was written: the table still has exactly the original rows
    assert(spark.read.parquet(dir).select("k", "name").as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
    // the default (documented-contract) path still merges stable keys fine
    Sinks.mergeUpsertPartitioned(
      Seq((2L, "b3", "p2")).toDF("k", "name", "part"), dir, Seq("k"), "part",
      strict = true)
    assert(spark.read.parquet(dir).filter(col("k") === 2)
      .select("name").as[String].head() == "b3")
  }

  test("mergeUpsertPartitioned: null partition values and type drift rejected") {
    val dir = Files.createTempDirectory("graft_merge_guard_").toString + "/t"
    Sinks.mergeUpsertPartitioned(
      Seq((1L, "a", "p1")).toDF("k", "name", "part"), dir, Seq("k"), "part")
    val nullPart = Seq((2L, "b", null: String)).toDF("k", "name", "part")
    val e1 = intercept[IllegalArgumentException] {
      Sinks.mergeUpsertPartitioned(nullPart, dir, Seq("k"), "part")
    }
    assert(e1.getMessage.contains("null part"), e1.getMessage)
    // name type drift (string name -> int) must be rejected, not coerced
    val retyped = Seq((1L, 7, "p1")).toDF("k", "name", "part")
    val e2 = intercept[IllegalArgumentException] {
      Sinks.mergeUpsertPartitioned(retyped, dir, Seq("k"), "part")
    }
    assert(e2.getMessage.contains("schema mismatch"), e2.getMessage)
  }

  test("cross-op recovery: a table stranded mid-compact is restored by mergeUpsert") {
    val dir = Files.createTempDirectory("graft_xop_rec_").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(dir)
    def mv(a: String, b: String): Unit =
      assert(new java.io.File(a).renameTo(new java.io.File(b)))
    // crash between compact's two renames: table only at .compact.tmp
    mv(dir, dir + ".compact.tmp")
    Sinks.mergeUpsert(Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), dir, Seq("k"))
    val got = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b2"), (3L, "c")),
      "pre-crash rows must survive a merge that follows a stranded compact")
    assert(!new java.io.File(dir + ".compact.tmp").exists())
  }

  test("compact refuses hive-partitioned layouts") {
    val dir = Files.createTempDirectory("graft_compact_part_").toString + "/t"
    Sinks.writePartitioned(
      spark.range(0, 100).selectExpr("id", "id % 3 AS p"), dir, "p")
    val e = intercept[IllegalArgumentException] {
      Sinks.compact(spark, dir, targetFileBytes = 1024)
    }
    assert(e.getMessage.contains("partition"))
  }

  test("K7/K5: CSV export and seed re-import round trip (with dup collapse)") {
    val dir = Files.createTempDirectory("graft_csv_").toString + "/genres"
    val dims = Dimensions.genres(spark)
    Sinks.writeCsv(dims.unionByName(dims), dir, Seq("genre_id", "name")) // duplicated rows
    val schema = StructType(Seq(
      StructField("genre_id", LongType), StructField("name", StringType)))
    val back = Sinks.seedFromCsv(spark, dir, schema, Seq("genre_id"))
    assert(back.count() == dims.count(), "MERGE semantics collapse duplicate seed rows")
    val got = back.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(878L) == "Science Fiction")
  }

  test("JSONL round-trip preserves quotes, newlines, tabs, and unicode") {
    // the driver's jsonl_roundtrip checks aggregate parity on the plain
    // harness corpus; this pins the HARD escaping cases byte-for-byte
    val dir = Files.createTempDirectory("graft_jsonl_spec_").toString + "/docs"
    val docs = Seq(
      (1L, "has \"quotes\" and \\ backslash"),
      (2L, "line1\nline2\ttabbed"),
      (3L, "unicode: café 中文 😀"),
      (4L, "")).toDF("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").json(dir)
    val back = spark.read.schema(docs.schema).json(dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == want, "every text must survive the JSON escape round-trip")
  }

  test("K6: bulk edge CSV load drops dangling endpoints and replays idempotently") {
    val base = Files.createTempDirectory("graft_k6_").toString
    val csvDir = base + "/edges_csv"
    // movie 30 and person 99 don't exist; (10,1) appears twice
    Seq((10L, 1L), (10L, 1L), (10L, 2L), (20L, 1L), (30L, 1L), (10L, 99L))
      .toDF("movie_id", "person_id")
      .write.option("header", "true").csv(csvDir)
    val heads = Seq(10L, 20L).toDF("movie_id")
    val tails = Seq(1L, 2L).toDF("person_id")
    val schema = StructType(Seq(
      StructField("movie_id", LongType), StructField("person_id", LongType)))
    val sink = base + "/relationships"
    Sinks.bulkEdgesFromCsv(spark, csvDir, schema, heads, tails,
      "movie_id", "person_id", "ACTED_IN", sink)
    Sinks.bulkEdgesFromCsv(spark, csvDir, schema, heads, tails,
      "movie_id", "person_id", "ACTED_IN", sink) // replay converges
    val out = spark.read.parquet(sink)
    val ids = out.select("relationship_id").as[String].collect().toSet
    assert(ids == Set("10-1", "10-2", "20-1"),
      "dangling endpoints MATCH nothing; duplicates collapse once")
    assert(out.count() == 3)
    assert(out.select("rel_type").distinct().as[String].collect().toSeq ==
      Seq("ACTED_IN"))
  }

  test("versioned table: commits are immutable, time travel reads old versions") {
    val dir = Files.createTempDirectory("graft_ver_").toString + "/t"
    val v1 = Sinks.commitVersion(spark.range(0, 100).toDF("id"), dir)
    val v2 = Sinks.commitVersion(spark.range(0, 250).toDF("id"), dir)
    assert(v1 == 1 && v2 == 2)
    assert(Sinks.listVersions(spark, dir) == Seq(1, 2))
    // latest follows the pointer; pinned versions time-travel
    assert(Sinks.readVersion(spark, dir).count() == 250)
    assert(Sinks.readVersion(spark, dir, Some(1)).count() == 100)
    // commits never mutate old versions: v1 unchanged after v2
    assert(Sinks.readVersion(spark, dir, Some(1))
      .agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0)
      == (0L until 100L).sum)
    // rollback = a new commit of the old data; latest moves, v2 stays
    Sinks.commitVersion(Sinks.readVersion(spark, dir, Some(1)), dir)
    assert(Sinks.readVersion(spark, dir).count() == 100)
    assert(Sinks.readVersion(spark, dir, Some(2)).count() == 250)
    // missing version and empty table fail loudly
    intercept[IllegalStateException] {
      Sinks.readVersion(spark, dir, Some(99))
    }
    intercept[IllegalStateException] {
      Sinks.readVersion(spark, dir + "_missing")
    }
  }

  test("appendJdbc emits the reference's ON CONFLICT DO NOTHING form for Postgres") {
    // ref etl_task.py:509-513: INSERT ... ON CONFLICT DO NOTHING — the
    // server-side dup-tolerant branch no local harness can execute
    // (Derby only), so the emitted statement text IS the contract
    assert(Sinks.insertStatement("movies", Seq("movie_id", "title"),
        "jdbc:postgresql://db:5432/kg") ==
      "INSERT INTO movies (movie_id, title) VALUES (?, ?) ON CONFLICT DO NOTHING")
    // any other dialect gets the bare INSERT (conflicts swallowed
    // client-side by SQLState class 23)
    assert(Sinks.insertStatement("movies", Seq("movie_id", "title"),
        "jdbc:derby:memory:kg") ==
      "INSERT INTO movies (movie_id, title) VALUES (?, ?)")
  }

  test("versioned table: a concurrent reader never observes a missing pointer") {
    val dir = Files.createTempDirectory("graft_ver_race_").toString + "/t"
    Sinks.commitVersion(spark.range(0, 10).toDF("id"), dir)
    // hammer readVersion(None) while commits swap the pointer: the
    // FileContext rename-overwrite must make the swap single-step, so
    // the reader sees either the old pointer or the new one — the
    // delete-then-rename it replaced had an observable gap
    @volatile var readerError: Option[Throwable] = None
    @volatile var done = false
    val reader = new Thread(() => {
      while (!done && readerError.isEmpty) {
        try Sinks.readVersion(spark, dir).queryExecution.logical
        catch { case t: Throwable => readerError = Some(t) }
      }
    })
    reader.start()
    try (2 to 12).foreach(i => Sinks.commitVersion(spark.range(0, i).toDF("id"), dir))
    finally { done = true; reader.join(30000) }
    assert(readerError.isEmpty,
      s"reader observed a torn/missing pointer: ${readerError.map(_.getMessage)}")
    assert(Sinks.readVersion(spark, dir).count() == 12)
  }

  test("versioned table: a lost pointer falls back to the newest committed version") {
    val dir = Files.createTempDirectory("graft_ver_crash_").toString + "/t"
    Sinks.commitVersion(spark.range(0, 5).toDF("id"), dir)
    Sinks.commitVersion(spark.range(0, 7).toDF("id"), dir)
    // simulate a writer that crashed between landing v2 and the swap
    val ptr = new org.apache.hadoop.fs.Path(dir, "_latest")
    ptr.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ptr, false)
    assert(Sinks.readVersion(spark, dir).count() == 7,
      "newest immutable version is the latest durable commit")
    // a writer that died MID-df.write leaves a v<N> dir without a
    // _SUCCESS marker: the fallback must skip that partial corpus and
    // serve the newest COMPLETE version instead of silently reading
    // torn data
    val hfs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partial = new org.apache.hadoop.fs.Path(dir, "v3")
    hfs.mkdirs(partial)
    val torn = hfs.create(
      new org.apache.hadoop.fs.Path(partial, "part-00000.parquet"), true)
    try torn.write("not parquet".getBytes("UTF-8")) finally torn.close()
    assert(Sinks.readVersion(spark, dir).count() == 7,
      "fallback must skip the _SUCCESS-less partial v3 and serve v2")
    // when NO complete version exists, fail loudly rather than serve a
    // partial corpus
    val dir2 = Files.createTempDirectory("graft_ver_torn_").toString + "/t"
    val onlyPartial = new org.apache.hadoop.fs.Path(dir2, "v1")
    hfs.mkdirs(onlyPartial)
    val ex = intercept[IllegalStateException] {
      Sinks.readVersion(spark, dir2)
    }
    assert(ex.getMessage.contains("_SUCCESS"))
    // truly empty table still fails loudly
    intercept[IllegalStateException] {
      Sinks.readVersion(spark, dir + "_nothing_here")
    }
  }

  test("exportKgCsv: headers + MERGE script round-trip against bulkEdgesFromCsv") {
    val base = Files.createTempDirectory("graft_kgexp_").toString
    val movies = Seq((10L, "A"), (20L, "B")).toDF("movie_id", "title")
    val persons = Seq((1L, "P1"), (2L, "P2")).toDF("person_id", "name")
    val edges = graft.operators.Graph.buildEdges(
      Seq((10L, 1L), (10L, 2L), (20L, 1L)).toDF("movie_id", "person_id"),
      movies, persons, "movie_id", "person_id", "ACTED_IN")
    val script = Sinks.exportKgCsv(spark,
      Seq(Sinks.KgNodeExport("Movie", movies, "movie_id"),
        Sinks.KgNodeExport("Person", persons, "person_id")),
      Seq(Sinks.KgEdgeExport("ACTED_IN", edges,
        "Movie", "movie_id", "Person", "person_id")),
      base)
    // the script on disk is the returned script, with the fixed Cypher:
    // key-only node MERGE + real relationship MERGE on relationship_id
    val onDisk = new String(Files.readAllBytes(
      java.nio.file.Paths.get(base, "load_kg.cypher")), "UTF-8")
    assert(onDisk == script)
    assert(script.contains("MERGE (n:Movie {movie_id: row.movie_id})"))
    assert(script.contains("ON CREATE SET n.title = row.title"))
    assert(script.contains("MATCH (h:Movie {movie_id: row.movie_id})"))
    assert(script.contains("MATCH (t:Person {person_id: row.person_id})"))
    assert(script.contains(
      "MERGE (h)-[r:ACTED_IN {relationship_id: row.relationship_id}]->(t);"))
    // single-file CSVs with headers, loadable straight back:
    // node CSVs re-seed through seedFromCsv (K5)…
    val movieSchema = StructType(Seq(StructField("movie_id", LongType),
      StructField("title", StringType)))
    val seeded = Sinks.seedFromCsv(spark, s"$base/nodes_Movie.csv",
      movieSchema, Seq("movie_id"))
    assert(seeded.orderBy("movie_id").as[(Long, String)].collect().toSeq ==
      Seq((10L, "A"), (20L, "B")))
    // …and the edge CSV replays through bulkEdgesFromCsv (K6) to the
    // exact exported edge set — the round trip the script encodes.
    // schema in FILE order (explicit-schema CSV reads match by position,
    // and buildEdges' using-column joins front the join keys):
    val edgeSchema = StructType(Seq(
      StructField("person_id", LongType), StructField("movie_id", LongType),
      StructField("relationship_id", StringType),
      StructField("rel_type", StringType)))
    val sink = base + "/rels"
    Sinks.bulkEdgesFromCsv(spark, s"$base/edges_ACTED_IN.csv", edgeSchema,
      movies, persons, "movie_id", "person_id", "ACTED_IN", sink)
    val ids = spark.read.parquet(sink)
      .select("relationship_id").as[String].collect().toSet
    assert(ids == Set("10-1", "10-2", "20-1"))
    // injection guard: a non-identifier label must refuse to emit
    intercept[IllegalArgumentException] {
      Sinks.exportKgCsv(spark,
        Seq(Sinks.KgNodeExport("Movie) DETACH DELETE n; //", movies,
          "movie_id")), Nil, base + "/evil")
    }
  }

  test("K1/K2 JDBC sink: dup-tolerant insert converges under replay (Derby)") {
    val dbDir = Files.createTempDirectory("graft_derby_").resolve("db")
    val url = s"jdbc:derby:$dbDir;create=true"
    val setup = java.sql.DriverManager.getConnection(url)
    setup.createStatement().execute(
      "CREATE TABLE movies (movie_id BIGINT PRIMARY KEY, title VARCHAR(100), popularity DOUBLE)")
    setup.close()
    // in-batch duplicate (2) and a NULL column value (3)
    val batch = Seq((1L, "A", 1.0), (2L, "B", 2.0), (2L, "B", 2.0),
      (3L, null.asInstanceOf[String], 0.5)).toDF("movie_id", "title", "popularity")
    Sinks.appendJdbc(batch, url, "movies")
    Sinks.appendJdbc(batch, url, "movies") // full replay: must converge
    val props = new java.util.Properties
    assert(spark.read.jdbc(url, "movies", props).count() == 3)
    // overlapping incremental batch: only the new key lands; first write wins
    val next = Seq((3L, "C", 9.9), (4L, "D", 4.0)).toDF("movie_id", "title", "popularity")
    Sinks.appendJdbc(next, url, "movies")
    val back = spark.read.jdbc(url, "movies", props)
    assert(back.count() == 4)
    assert(back.filter(col("movie_id") === 3).collect().head.isNullAt(1),
      "replayed key 3 keeps its first-written NULL title")
  }

  test("appendDedup converges under replay; the first write wins") {
    val dir = Files.createTempDirectory("graft_append_").toString + "/store"
    val week1 = Seq((1L, "2024-01-01", "a"), (2L, "2024-01-01", "b"))
      .toDF("id", "week", "v")
    val week2 = Seq((2L, "2024-01-08", "DUP"), (3L, "2024-01-08", "c"), (3L, "2024-01-08", "c"))
      .toDF("id", "week", "v")
    Sinks.appendDedup(week1, dir, Seq("id"))
    Sinks.appendDedup(week2, dir, Seq("id"))
    Sinks.appendDedup(week2, dir, Seq("id")) // replay
    val back = spark.read.parquet(dir)
    assert(back.count() == 3, "batch-internal and cross-run duplicates both collapse")
    assert(back.filter(col("id") === 2).collect().head.getAs[String]("v") == "b",
      "first write wins across batches")
    assert(!new java.io.File(dir).getParentFile.list().exists(_.contains("__stage-")),
      "the stage dir never outlives the append")
  }

  test("snapshot diff classifies added/removed/changed and treats NULL as a value") {
    val prev = Seq((1L, Option("a")), (2L, Option("b")), (3L, Option.empty[String]),
      (4L, Option("d"))).toDF("id", "v")
    val cur = Seq((2L, Option("B")), (3L, Option.empty[String]), (4L, Option("d")),
      (5L, Option("e"))).toDF("id", "v")
    val diff = Sinks.diffSnapshots(prev, cur, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(1L -> "removed", 2L -> "changed", 5L -> "added"),
      s"got $diff — NULL==NULL must be unchanged, equal rows never emitted")
  }

  test("JSON lines round trip with explicit schema and corrupt-record capture") {
    val dir = Files.createTempDirectory("graft_json_").toString + "/ev"
    val src = Tables.events(spark, sf("sf0.001"))
      .select("event_id", "user_id", "event_type", "value").limit(200)
    src.write.json(dir)
    // corrupt one extra file in the directory
    val bad = new java.io.PrintWriter(dir + "/part-corrupt.json")
    bad.println("""{"event_id": 999999, "user_id": NOT_JSON}""")
    bad.println("""{"event_id": 999998, "user_id": 7, "event_type": "click", "value": 1.5}""")
    bad.close()
    val schema = StructType(src.schema.fields :+ StructField("_corrupt_record", StringType))
    val back = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir).cache()
    assert(back.count() == 202)
    assert(back.filter(col("_corrupt_record").isNotNull).count() == 1,
      "exactly the malformed line is quarantined, not the whole file")
    assert(back.filter(col("event_id") === 999998).count() == 1,
      "valid lines in a partially-corrupt file still parse")
    val good = back.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record").filter(col("event_id") < 999000)
    assert(good.count() == 200)
    assert(good.select("event_id").as[Long].collect().toSet ==
      src.select("event_id").as[Long].collect().toSet)
    back.unpersist()
  }

  test("ORC round trip preserves rows and schema") {
    val dir = Files.createTempDirectory("graft_orc_").toString + "/li"
    val src = Tables.lineitem(spark, sf("sf0.001"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    src.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(back.agg(sum("l_quantity")).collect().head.getDouble(0)
      == src.agg(sum("l_quantity")).collect().head.getDouble(0))
  }
}
