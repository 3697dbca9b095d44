package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{DeltaJsonLog, LogFormat, NativeManifestLog, TableStore, TempDirs}

/** core/LogFormat: the version-log adapter behind TableStore. The
  * commit protocol is format-independent; these tests prove the
  * Delta-style JSON action log carries the full TableStore lifecycle
  * (append / upsert / delete / time travel / revert / vacuum) with
  * results identical to the native manifest, that the log on disk is
  * well-formed Delta actions (add/remove/metaData with stats), and
  * that reopening resolves a table's existing format regardless of
  * the constructor default. */
class LogFormatSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshRows(n: Int) =
    (0 until n).map(i => (i.toLong, s"r$i", i * 1.5)).toDF("id", "tag", "v")

  test("full lifecycle through the Delta JSON log matches the native manifest") {
    val results = Seq(NativeManifestLog, DeltaJsonLog).map { fmt =>
      val dir = TempDirs.create(s"graft_lf_${fmt.dirName.replace("_", "")}_")
      val st = new TableStore(spark, dir, "id", format = fmt)
      st.append(freshRows(100))
      st.upsert(freshRows(10).withColumn("v", col("v") * 2))
      st.delete(col("id") >= 90)
      val Seq(v1, v2, v3) = st.versions.sorted.takeRight(3)
      val snaps = Seq(v1, v2, v3).map(v =>
        st.readVersion(v).agg(count(lit(1)), round(sum(col("v")), 2))
          .as[(Long, Double)].head())
      st.revertTo(v2)
      val afterRevert = st.read.agg(count(lit(1)), round(sum(col("v")), 2))
        .as[(Long, Double)].head()
      st.vacuum(graceMs = 0L)
      val afterVacuum = st.read.agg(count(lit(1)), round(sum(col("v")), 2))
        .as[(Long, Double)].head()
      (snaps, afterRevert, afterVacuum)
    }
    assert(results(0) == results(1),
      s"delta-log lifecycle diverged from native manifest: ${results(0)} vs ${results(1)}")
  }

  test("delta log on disk is well-formed NDJSON actions with stats") {
    val dir = TempDirs.create("graft_lf_ondisk_")
    val st = new TableStore(spark, dir, "id", format = DeltaJsonLog)
    st.append(freshRows(50))
    st.delete(col("id") < 10)
    val logDir = new java.io.File(s"$dir/_delta_log")
    val logs = logDir.listFiles().filter(_.getName.matches("\\d{20}\\.json")).sortBy(_.getName)
    assert(logs.length == 2, s"expected 2 commits, got ${logs.map(_.getName).mkString(",")}")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val v1 = scala.io.Source.fromFile(logs.last, "UTF-8").getLines().toList.map(mapper.readTree)
    // commit 1 (the delete-rewrite) must carry removes for the rewritten
    // files and adds whose stats expose numRecords and id min/max
    assert(v1.exists(n => n.has("remove")), "delete commit lost its remove actions")
    val adds = v1.filter(_.has("add"))
    assert(adds.nonEmpty)
    adds.foreach { a =>
      val st2 = mapper.readTree(a.get("add").get("stats").asText())
      assert(st2.has("numRecords") && st2.has("minValues") && st2.has("maxValues"),
        s"add action missing data-skipping stats: $a")
    }
    val md = v1.find(_.has("metaData")).get.get("metaData")
    assert(md.get("schemaString").asText().contains("\"id\""),
      "metaData schemaString is not the real table schema")
    assert(md.get("format").get("provider").asText() == "parquet")
  }

  test("reopening resolves the existing on-disk format over the constructor default") {
    val dir = TempDirs.create("graft_lf_reopen_")
    val st = new TableStore(spark, dir, "id", format = DeltaJsonLog)
    st.append(freshRows(20))
    // reopen with the DEFAULT (native) format: detection must route to
    // the delta log that is already there
    val reopened = new TableStore(spark, dir, "id")
    assert(reopened.read.count() == 20)
    reopened.append(freshRows(5).withColumn("id", col("id") + 1000))
    assert(reopened.versions.size == 2)
    assert(new java.io.File(s"$dir/_delta_log").listFiles()
      .count(_.getName.matches("\\d{20}\\.json")) == 2,
      "reopened store committed outside the table's original log format")
    assert(!new java.io.File(s"$dir/_versions").exists(),
      "reopened store created a second log directory")
  }

  test("id-range pruning stats survive the delta stats round-trip") {
    val dir = TempDirs.create("graft_lf_prune_")
    val st = new TableStore(spark, dir, "id", format = DeltaJsonLog)
    st.append(freshRows(100))
    // metadata-only row count and max id prove stats decoded from the
    // add actions' stats JSON, not rescanned
    assert(st.rowCountFromManifest.contains(100L))
    assert(st.maxId.contains(99L))
  }

  test("appendOnce is exactly-once across replays, formats, and reopen") {
    Seq(NativeManifestLog, DeltaJsonLog).foreach { fmt =>
      val dir = TempDirs.create(s"graft_txn_${fmt.dirName.replace("_", "")}_")
      val st = new TableStore(spark, dir, "id", format = fmt)
      assert(st.appendOnce("sinkA", 0L, freshRows(10)))
      assert(st.appendOnce("sinkA", 1L, freshRows(5)))
      // replays of both applied versions are dropped
      assert(!st.appendOnce("sinkA", 0L, freshRows(10)))
      assert(!st.appendOnce("sinkA", 1L, freshRows(99)))
      assert(st.read.count() == 15L)
      // independent appId has its own sequence
      assert(st.appendOnce("sinkB", 0L, freshRows(3)))
      assert(st.read.count() == 18L)
      // txn state survives unrelated commits (cumulative re-encode)
      st.append(freshRows(2))
      assert(st.lastTxn("sinkA").contains(1L))
      assert(st.lastTxn("sinkB").contains(0L))
      // ...and survives reopening the table from disk
      val reopened = new TableStore(spark, dir, "id")
      assert(!reopened.appendOnce("sinkA", 1L, freshRows(4)))
      assert(reopened.appendOnce("sinkA", 2L, freshRows(4)))
      assert(reopened.read.count() == 24L)
    }
  }

  test("column stats: round-trip both formats, prune readWhere, survive commits") {
    Seq(NativeManifestLog, DeltaJsonLog).foreach { fmt =>
      val dir = TempDirs.create(s"graft_cs_${fmt.dirName.replace("_", "")}_")
      val st = new TableStore(spark, dir, "id", format = fmt)
      // two files with disjoint v ranges
      st.append((0 until 50).map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1))
      st.append((50 until 100).map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1))
      val narrow = st.readWhere("v", 10.0, 20.0)
      assert(narrow.inputFiles.length == 1,
        s"expected 1 file read, got ${narrow.inputFiles.length}")
      assert(narrow.count() == 11L)
      // stats survive an unrelated commit (delete touching nothing new)
      st.append((100 until 110).map(i => (i.toLong, -1.0)).toDF("id", "v").coalesce(1))
      val narrow2 = st.readWhere("v", 60.0, 70.0)
      assert(narrow2.inputFiles.length == 1)
      assert(narrow2.count() == 11L)
      // a column with no stats (strings) reads everything, correctly
      val st2 = new TableStore(spark,
        TempDirs.create(s"graft_cs2_${fmt.dirName.replace("_", "")}_"), "id", format = fmt)
      st2.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
      assert(st2.readWhere("id", 1.0, 1.0).count() == 1L)
    }
  }

  test("upsertOnce merges on the key, dedups replays, both formats") {
    Seq(NativeManifestLog, DeltaJsonLog).foreach { fmt =>
      val dir = TempDirs.create(s"graft_uo_${fmt.dirName.replace("_", "")}_")
      val st = new TableStore(spark, dir, "id", format = fmt)
      assert(st.upsertOnce("view", 0L, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")))
      assert(st.upsertOnce("view", 1L, Seq((2L, 25.0), (3L, 30.0)).toDF("id", "v")))
      // replay of batch 1 with different values must NOT apply
      assert(!st.upsertOnce("view", 1L, Seq((2L, -99.0)).toDF("id", "v")))
      val got = st.read.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == Map(1L -> 10.0, 2L -> 25.0, 3L -> 30.0))
      assert(st.lastTxn("view").contains(1L))
    }
  }

  test("schema evolution: widen, omit, reject type change, upsert across it") {
    Seq(NativeManifestLog, DeltaJsonLog).foreach { fmt =>
      val dir = TempDirs.create(s"graft_evo_${fmt.dirName.replace("_", "")}_")
      val st = new TableStore(spark, dir, "id", format = fmt)
      st.append((0L until 4L).map(i => (i, s"r$i")).toDF("id", "tag"))
      // widened append: new nullable column, old files not rewritten
      st.append(Seq((10L, "w", 1.5), (11L, "x", 2.5)).toDF("id", "tag", "v"))
      val rows = st.read.orderBy("id").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L, 10L, 11L))
      assert(rows.take(4).forall(_.isNullAt(2)), "pre-evolution rows must read null v")
      assert(rows.last.getDouble(2) == 2.5)
      // omitted column fills null on write
      st.append(Seq((20L, 9.9)).toDF("id", "v"))
      val r20 = st.read.filter(col("id") === 20L).head
      assert(r20.isNullAt(1) && r20.getDouble(2) == 9.9)
      // type change rejected
      intercept[IllegalArgumentException] {
        st.append(Seq((30L, 7)).toDF("id", "v")) // v: int vs committed double
      }
      // upsert across the evolution boundary touches pre-evolution files
      st.upsert(Seq((1L, "updated", 4.0)).toDF("id", "tag", "v"))
      val r1 = st.read.filter(col("id") === 1L).head
      assert(r1.getString(1) == "updated" && r1.getDouble(2) == 4.0)
      assert(st.read.count() == 7L)
    }
  }

  test("find and readRange read under the committed schema after a widening append") {
    Seq(NativeManifestLog, DeltaJsonLog).foreach { fmt =>
      val dir = TempDirs.create(s"graft_evofind_${fmt.dirName.replace("_", "")}_")
      val st = new TableStore(spark, dir, "id", format = fmt)
      st.append((0L until 4L).map(i => (i, s"r$i")).toDF("id", "tag"))
      st.append(Seq((10L, "w", 1.5)).toDF("id", "tag", "v"))
      val cols = st.read.columns.toSeq
      assert(cols == Seq("id", "tag", "v"))
      assert(st.find(1L).columns.toSeq == cols, s"$fmt find")
      assert(st.readRange(0L, 3L).columns.toSeq == cols, s"$fmt readRange")
      // a pre-evolution row decodes into the widened shape
      assert(st.find(1L).as[(Long, String, Option[Double])].collect().toSeq ==
        Seq((1L, "r1", None)))
      assert(st.readRange(0L, 3L).as[(Long, String, Option[Double])].collect()
        .map(_._1).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    }
  }

  test("a manifest without a schema still reads empty through a legacy _schema anchor") {
    Seq(NativeManifestLog, DeltaJsonLog).foreach { fmt =>
      val dir = TempDirs.create(s"graft_anchor_${fmt.dirName.replace("_", "")}_")
      // an empty version with no schema recorded: the shape of a store
      // created before the version log carried one
      new TableStore(spark, dir, "id", format = fmt).revertTo(-1L)
      Seq.empty[(Long, String)].toDF("id", "tag").write.parquet(s"$dir/_schema")
      val st = new TableStore(spark, dir, "id")
      assert(st.read.columns.toSeq == Seq("id", "tag"), s"$fmt read")
      assert(st.read.count() == 0L)
      assert(st.find(1L).columns.toSeq == Seq("id", "tag") && st.find(1L).isEmpty)
    }
  }

  test("change feed: upsert pairs, unchanged-row cancellation, evolution nulls") {
    val st = new TableStore(spark, TempDirs.create("graft_cdf_spec_"), "id")
    st.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"))
    val v1 = st.versions.max
    // upsert: change 2, leave 1 and 3 byte-identical in the rewrite
    st.upsert(Seq((2L, "B2"), (4L, "d")).toDF("id", "tag"))
    // widening append — the earlier steps must union with null v
    st.append(Seq((5L, "e", 9.0)).toDF("id", "tag", "v"))
    val v3 = st.versions.max
    val ch = st.changes(v1, v3)
      .select(col("_commit_version") - lit(v1), col("_change_type"),
        col("id"), col("tag"), col("v"))
      .as[(Long, String, Long, String, Option[Double])].collect().toSet
    assert(ch == Set(
      (1L, "insert", 2L, "B2", None), (1L, "insert", 4L, "d", None),
      (1L, "delete", 2L, "b", None),
      (2L, "insert", 5L, "e", Some(9.0))),
      s"unexpected change set: $ch")
    // an empty range yields an empty feed with the right columns
    assert(st.changes(v3, v3).count() == 0L)
  }
}
