package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import com.fasterxml.jackson.databind.ObjectMapper

import graft.config.PipelineConfig
import graft.io.{SparkIo, TableCommitter}

class TableCommitterSpec extends AnyFunSuite {

  private def fresh() = new TableCommitter(
    TempDirs("committer-"))

  /** Stage `df` (which carries a `bucket` column) and publish it as the
    * replacement of `buckets`. */
  private def put(t: TableCommitter, df: DataFrame, runId: String,
                  buckets: Set[Int] = Set(0)): String = {
    t.stagePartitioned(df, runId)
    t.publishBuckets(runId, buckets)
  }

  test("staged data is invisible until publish; publish flips atomically") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val t = fresh()
    t.stagePartitioned(Seq((1, "a", 0)).toDF("k", "v", "bucket"), "r1")
    assert(t.read(spark).isEmpty)
    val gen = t.publishBuckets("r1", Set(0))
    assert(gen == "gen-0")
    assert(t.read(spark).get.collect().map(r => (r.getInt(0), r.getString(1))).toSet
      == Set((1, "a")))
  }

  test("rollback removes staging, live table untouched (K5)") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val t = fresh()
    put(t, Seq((1, "a", 0)).toDF("k", "v", "bucket"), "r1")
    t.stagePartitioned(Seq((2, "b", 0)).toDF("k", "v", "bucket"), "r2")
    t.rollback("r2")
    assert(t.read(spark).get.count() == 1)
    intercept[IllegalArgumentException](t.publishBuckets("r2", Set(0)))
  }

  test("time travel: every published generation stays readable") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val t = fresh()
    put(t, Seq((1, "v1", 0)).toDF("k", "v", "bucket"), "r1")
    put(t, Seq((1, "v2", 0)).toDF("k", "v", "bucket"), "r2")
    assert(t.generations() == Seq("gen-0", "gen-1"))
    assert(t.readGeneration(spark, "gen-0").get.head().getString(1) == "v1")
    assert(t.readGeneration(spark, "gen-1").get.head().getString(1) == "v2")
    assert(t.readGeneration(spark, "gen-9").isEmpty)
  }

  test("regression: publish after pointer rollback allocates a fresh generation") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val t = fresh()
    put(t, Seq(("v0", 0)).toDF("v", "bucket"), "r1") // gen-0
    put(t, Seq(("v1", 0)).toDF("v", "bucket"), "r2") // gen-1
    t.setPointer("current", "gen-0") // rollback
    // pointer said gen-0; must NOT collide with gen-1
    val gen = put(t, Seq(("v2", 0)).toDF("v", "bucket"), "r3")
    assert(gen == "gen-2")
    assert(t.read(spark).get.head().getString(0) == "v2")
    assert(t.readGeneration(spark, "gen-1").get.head().getString(0) == "v1")
  }

  test("expireGenerations keeps the newest K + alias-referenced; hard-linked " +
       "carryover files survive on their remaining links") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val t = fresh()
    // bucketed history: gen-0 full, gen-1..3 each rewrite only bucket 1, so
    // bucket 0's file is hard-link-shared across all generations
    t.stagePartitioned(Seq((1, "a", 0), (2, "b", 1)).toDF("k", "v", "bucket"), "r0")
    t.publishBuckets("r0", Set(0, 1))
    (1 to 3).foreach { i =>
      t.stagePartitioned(Seq((2, s"b$i", 1)).toDF("k", "v", "bucket"), s"r$i")
      t.publishBuckets(s"r$i", Set(1))
    }
    t.setPointer("pinned", "gen-1") // an alias protects an old generation
    val expired = t.expireGenerations(keepLast = 2)
    assert(expired == Seq("gen-0")) // gen-1 pinned, gen-2/3 retained
    assert(t.generations() == Seq("gen-1", "gen-2", "gen-3"))
    // live reads unaffected; shared bucket-0 file still readable everywhere
    assert(t.read(spark).get.filter($"bucket" === 0).count() == 1)
    assert(t.read(spark, "pinned").get.count() == 2)
    assert(t.read(spark).get.filter($"k" === 2).head().getString(1) == "b3")
    // the expired generation's run record is retired with it: a replayed
    // runId must not "succeed" returning a generation that no longer exists
    assert(t.publishedGeneration("r0").isEmpty)
    assert(t.publishedGeneration("r3").contains("gen-3"))
    // retaining fewer than 1 is rejected
    intercept[IllegalArgumentException](t.expireGenerations(0))
  }

  test("a zero-row bucketed publish stays readable (schema sidecar) and " +
       "does not brick later syncs") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val t = fresh()
    val empty = Seq.empty[(Int, String, Int)].toDF("k", "v", "bucket")
    // partitionBy of an empty DF writes no parquet data files at all —
    // without the sidecar this generation would throw on every read
    t.stagePartitioned(empty, "r0")
    t.publishBuckets("r0", Set.empty)
    val got = t.read(spark).get
    assert(got.count() == 0)
    assert(got.columns.toSeq == Seq("k", "v", "bucket"))
    // a later incremental publish over the empty generation works normally
    t.stagePartitioned(Seq((1, "a", 0)).toDF("k", "v", "bucket"), "r1")
    t.publishBuckets("r1", Set(0))
    assert(t.read(spark).get.collect().map(r => (r.getInt(0), r.getString(1))).toSet
      == Set((1, "a")))
    // the intermediate empty generation stays time-travel readable too
    assert(t.readGeneration(spark, "gen-0").get.count() == 0)
  }

  /** gen-0 with rows (k, v) in buckets 0, 1 and 2 (published by "r0"). */
  private def threeBuckets(t: TableCommitter): Unit = {
    val spark = SparkTestSession.get
    import spark.implicits._
    put(t, Seq((1, "a", 0), (2, "b", 1), (3, "c", 1), (4, "d", 2))
      .toDF("k", "v", "bucket"), "r0", Set(0, 1, 2))
  }

  private def kv(df: DataFrame): Set[(Int, String)] =
    df.select("k", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSet

  test("readBuckets reads only the named buckets; a named bucket with no " +
       "dir reads as no rows") {
    val spark = SparkTestSession.get
    val t = fresh()
    assert(t.readBuckets(spark, Set(1)).isEmpty) // no generation yet
    threeBuckets(t)
    val got = t.readBuckets(spark, Set(1, 7)).get
    assert(kv(got) == Set((2, "b"), (3, "c")))
    assert(got.schema == t.read(spark).get.schema)
    assert(got.select("bucket").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("readBuckets of no existing dir is an empty frame of the table's " +
       "schema and runs no Spark job") {
    val spark = SparkTestSession.get
    val t = fresh()
    threeBuckets(t)
    val schema = t.read(spark).get.schema
    Seq(Set.empty[Int], Set(5, 6)).foreach { bs =>
      val (rows, jobs) = SparkJobs.during(spark) {
        val df = t.readBuckets(spark, bs).get
        assert(df.schema == schema)
        df.collect()
      }
      assert(rows.isEmpty, bs)
      assert(jobs.isEmpty, s"$bs ran ${jobs.mkString(", ")}")
    }
  }

  test("older generation layouts are refused and left untouched") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val rows = Seq((1, "a", 0), (2, "b", 1), (3, "c", 1), (4, "d", 2))
      .toDF("k", "v", "bucket")
    // a partitionBy("bucket") generation without a manifest, with and
    // without the schema sidecar; an unpartitioned one without a manifest,
    // and with the bucket-less manifest graft f69f29c wrote into it
    val layouts = Seq[(String, java.nio.file.Path => Unit)](
      "manifest-less" -> (g => rows.write.partitionBy("bucket").parquet(g.toString)),
      "manifest-less, schema" -> { g =>
        rows.write.partitionBy("bucket").parquet(g.toString)
        Files.writeString(g.resolve(TableCommitter.SchemaSidecar), rows.schema.json)
      },
      "unpartitioned" -> (g => rows.drop("bucket").write.parquet(g.toString)),
      "unpartitioned, manifest" -> { g =>
        rows.drop("bucket").write.parquet(g.toString)
        val f = SparkIo.files(g).filter(_.toString.endsWith(".parquet"))
        Files.writeString(g.resolve(TableCommitter.ManifestFile),
          (s"""{"schema":${new ObjectMapper().writeValueAsString(rows.drop("bucket").schema.json)}}""" +:
            f.map(p => s"""{"path":"${g.relativize(p)}","bytes":${Files.size(p)},"rows":1}"""))
            .mkString("\n"))
      })
    layouts.foreach { case (layout, write) =>
      val root = TempDirs.path("committer-")
      val t = new TableCommitter(root.toString)
      write(root.resolve("gen-0"))
      t.setPointer("current", "gen-0")
      // a publish on top reads the older generation as its parent
      t.stagePartitioned(Seq((5, "e", 0)).toDF("k", "v", "bucket"), "r1")
      Seq[() => Any](() => t.read(spark), () => t.readBuckets(spark, Set(1)),
        () => t.currentRecordCount(), () => t.manifest("gen-0"),
        () => t.pinBucketMapping(8, PipelineConfig.DefaultBucketKeyExpr),
        () => t.publishBuckets("r1", Set(0))
      ).foreach(call => OlderLayouts.refused(root)(call()))
      assert(t.generations() == Seq("gen-0"), layout)
    }
  }

  test("a 64-bucket generation reads with no listing job; count() is the " +
       "manifest's row sum") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val t = fresh()
    put(t, (0 until 640).map(i => (i, s"v$i", i % 64)).toDF("k", "v", "bucket"),
      "r0", (0 until 64).toSet)
    val rows = t.manifest(t.currentGeneration().get).get.rows
    val (n, jobs) = SparkJobs.during(spark)(t.read(spark).get.count())
    assert(jobs.count(SparkJobs.isListing) == 0, jobs.mkString(" | "))
    assert(n == rows && n == 640)
    // a bucket slice above the 32-path discovery threshold lists nothing either
    val (slice, sliceJobs) = SparkJobs.during(spark)(
      t.readBuckets(spark, (0 until 40).toSet).get.count())
    assert(sliceJobs.count(SparkJobs.isListing) == 0, sliceJobs.mkString(" | "))
    assert(slice == 400)
    // a filter on the bucket column prunes whole buckets, as a listed read does
    assert(t.read(spark).get.filter($"bucket" < 3).count() == 30)
  }

  test("readBefore(runId, buckets): the current slice before the run, the " +
       "parent generation's slice on a replay after its publish") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val t = fresh()
    threeBuckets(t)
    assert(t.readBefore(spark, "r0", Set(1)).isEmpty) // nothing before gen-0
    put(t, Seq((2, "B", 1)).toDF("k", "v", "bucket"), "r1", Set(1)) // gen-1
    // replay of r1: gen-0's bucket 1, not gen-1's
    assert(kv(t.readBefore(spark, "r1", Set(1, 2)).get) ==
      Set((2, "b"), (3, "c"), (4, "d")))
    // a run that has not published reads the current generation
    assert(kv(t.readBefore(spark, "r2", Set(1)).get) == Set((2, "B")))
  }

  test("readBefore(runId, buckets) throws ExpiredGeneration when retention " +
       "expired the parent, whatever the bucket set") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val t = fresh()
    threeBuckets(t)
    put(t, Seq((2, "B", 1)).toDF("k", "v", "bucket"), "r1", Set(1)) // gen-1
    put(t, Seq((2, "C", 1)).toDF("k", "v", "bucket"), "r2", Set(1)) // gen-2
    assert(t.expireGenerations(1) == Seq("gen-0", "gen-1"))
    Seq(Set(1), Set.empty[Int]).foreach(bs =>
      intercept[TableCommitter.ExpiredGeneration](t.readBefore(spark, "r2", bs)))
  }

  test("a crash mid-publishBuckets leaves no orphan generation dir") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val t = fresh()
    t.stagePartitioned(Seq((1, "a", 0), (2, "b", 1)).toDF("k", "v", "bucket"), "r0")
    t.publishBuckets("r0", Set(0, 1))
    // simulate the crash: an assembly tmp dir left behind mid-publish
    val root = java.nio.file.Paths.get(t.currentPath().get).getParent
    val orphan = root.resolve(".gen-1.tmp")
    Files.createDirectories(orphan.resolve("bucket=0"))
    Files.writeString(orphan.resolve("bucket=0").resolve("junk.parquet"), "x")
    // orphans are invisible to generations() (and so to retention/time travel)
    assert(t.generations() == Seq("gen-0"))
    // ...and the next publish sweeps them and numbers correctly
    t.stagePartitioned(Seq((2, "b2", 1)).toDF("k", "v", "bucket"), "r1")
    val gen = t.publishBuckets("r1", Set(1))
    assert(gen == "gen-1")
    assert(!Files.exists(orphan))
    assert(t.read(spark).get.filter($"k" === 2).head().getString(1) == "b2")
  }

  test("crash between the generation move and recordRun heals from the " +
       "in-generation run marker — no phantom duplicate generation") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val t = fresh()
    t.stagePartitioned(Seq((1, "a", 0)).toDF("k", "v", "bucket"), "r0")
    t.publishBuckets("r0", Set(0))
    t.stagePartitioned(Seq((1, "b", 0)).toDF("k", "v", "bucket"), "r1")
    t.publishBuckets("r1", Set(0))
    // simulate the crash window: gen-1 was moved into place, but the run
    // record and pointer flip were lost
    val meta = java.nio.file.Paths.get(t.currentPath().get).getParent.resolve("_meta")
    Files.delete(meta.resolve("runs").resolve("current~r1"))
    t.setPointer("current", "gen-0")
    // the retried run re-stages and republishes the same runId
    t.stagePartitioned(Seq((1, "b", 0)).toDF("k", "v", "bucket"), "r1")
    val gen = t.publishBuckets("r1", Set(0))
    assert(gen == "gen-1", "retry must adopt the already-moved generation")
    assert(t.generations() == Seq("gen-0", "gen-1"), "phantom generation created")
    assert(t.currentGeneration().contains("gen-1"))
    assert(t.read(spark).get.head().getString(1) == "b")
  }

  test("pinOrVerify: first writer pins, later writers must agree") {
    val t = fresh()
    t.pinOrVerify("bucket_count", "16")
    t.pinOrVerify("bucket_count", "16") // same value: fine
    val ex = intercept[IllegalArgumentException](t.pinOrVerify("bucket_count", "64"))
    assert(ex.getMessage.contains("bucket_count"))
  }

  test("blue/green alias pointers flip between generations (K6)") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val t = fresh()
    put(t, Seq(("blue", 0)).toDF("v", "bucket"), "r1")
    put(t, Seq(("green", 0)).toDF("v", "bucket"), "r2")
    // current points at gen-1; serve alias flips back to gen-0
    t.setPointer("serve", "gen-0")
    assert(t.read(spark, "serve").get.head().getString(0) == "blue")
    assert(t.read(spark).get.head().getString(0) == "green")
    t.setPointer("serve", "gen-1")
    assert(t.read(spark, "serve").get.head().getString(0) == "green")
    // alias names colliding with the meta-dir layout are refused: "runs"
    // (run records) and "pins" (pin directory) — a pointer file REPLACE_
    // EXISTING onto either would clobber table metadata
    intercept[IllegalArgumentException](t.setPointer("runs", "gen-0"))
    intercept[IllegalArgumentException](t.setPointer("pins", "gen-0"))
  }

  test("currentRecordCount is the manifest's row sum; carried files keep entries") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val t = fresh()
    // buckets 0, 1 and 2 hold 2, 3 and 2 rows
    put(t, (1 to 7).map(i => (i, s"v$i", i % 3)).toDF("k", "v", "bucket"), "r1",
      Set(0, 1, 2))
    assert(t.currentRecordCount().contains(7L))
    // the count SERVES the manifest, never the footers: plant a marker
    // value in bucket 2's entry
    val gen0 = java.nio.file.Paths.get(t.currentPath().get)
    val m = t.manifest("gen-0").get
    assert(m.files.map(_.rows).sum == 7 && m.bytes > 0)
    Files.writeString(gen0.resolve(TableCommitter.ManifestFile), m.copy(files =
      m.files.map(f => if (f.bucket == 2) f.copy(rows = 20) else f)).json)
    assert(t.currentRecordCount().contains(25L))
    // the next generation copies the carried entries (the planted one too)
    // and counts only its staged file from a footer
    put(t, Seq((3, "w", 0)).toDF("k", "v", "bucket"), "r2", Set(0))
    assert(t.currentRecordCount().contains(1L + 3 + 20))
    assert(!Files.exists(java.nio.file.Paths.get(t.currentPath().get)
      .resolve(TableCommitter.SchemaSidecar)))
  }

  test("pinBucketMapping: non-default key expr refused on a pre-pin table") {
    val spark = SparkTestSession.get
    import spark.implicits._
    // empty table: the first writer pins the format and any mapping (the
    // layout is being built under it right now), later ones must agree
    val t = fresh()
    t.pinBucketMapping(8, "epoch_week({k})")
    Seq("format" -> TableCommitter.Format, "bucket_key_expr" -> "epoch_week({k})",
      "bucket_count" -> "8").foreach { case (k, v) => assert(t.pinned(k).contains(v), k) }
    put(t, Seq(("x", 0)).toDF("v", "bucket"), "r1")
    t.pinBucketMapping(8, "epoch_week({k})")
    intercept[IllegalArgumentException](t.pinBucketMapping(8, "hash({k})"))
    intercept[IllegalArgumentException](t.pinBucketMapping(16, "epoch_week({k})"))

    // generations but no pins: written before the format pin, under a
    // mapping and row semantics unknowable from here — refused whatever the
    // writer's mapping, the default included
    val old = fresh()
    put(old, Seq(("x", 0)).toDF("v", "bucket"), "r1")
    val root = java.nio.file.Paths.get(old.currentPath().get).getParent
    Seq("epoch_week({k})", PipelineConfig.DefaultBucketKeyExpr).foreach { k =>
      OlderLayouts.refused(root)(old.pinBucketMapping(8, k))
    }
    // another format pin is refused the same way
    Files.writeString(Files.createDirectories(root.resolve("_meta/pins")).resolve("format"), "0")
    OlderLayouts.refused(root)(old.pinBucketMapping(8, PipelineConfig.DefaultBucketKeyExpr))
  }

  test("pinSemanticsOrVerify: adoption onto a pre-pin table with " +
       "generations is refused — its rows' semantics are unknowable") {
    val spark = SparkTestSession.get
    import spark.implicits._
    // empty table: the first writer pins the format and the signature (the
    // rows are about to be built under exactly it), later ones must agree
    val t = fresh()
    t.pinSemanticsOrVerify("coref=false,scored=true")
    assert(t.pinned("format").contains(TableCommitter.Format))
    put(t, Seq(("x", 0)).toDF("v", "bucket"), "r1")
    t.pinSemanticsOrVerify("coref=false,scored=true") // same sig verifies
    intercept[IllegalArgumentException](
      t.pinSemanticsOrVerify("coref=true,scored=true")) // flip: pin mismatch

    // generations but no pins: ANY signature is refused, and nothing is
    // pinned — there is no knowable signature the older rows must have had
    val old = fresh()
    put(old, Seq(("x", 0)).toDF("v", "bucket"), "r1")
    val root = java.nio.file.Paths.get(old.currentPath().get).getParent
    Seq("coref=false,scored=false", "coref=false,scored=true").foreach { sig =>
      OlderLayouts.refused(root)(old.pinSemanticsOrVerify(sig))
    }
    assert(old.pinned("semantics").isEmpty && old.pinned("format").isEmpty)
  }
}
