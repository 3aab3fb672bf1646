package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark._
import graft.sources.Tables

class SourcesSpec extends AnyFunSuite {

  test("json write -> schema-ful read roundtrips the documents table") {
    val docs = Tables.documents(spark, sfTiny)
    val dir = java.nio.file.Files.createTempDirectory("json_rt").toString
    Tables.writeJson(docs, s"$dir/docs")
    val back = Tables.readJson(spark, s"$dir/docs", docs.schema)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      docs.schema.map(f => (f.name, f.dataType)))
    val a = docs.orderBy("doc_id").collect().map(_.toSeq)
    val b = back.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("partitioned parquet write prunes partitions on read") {
    val docs = Tables.documents(spark, sfTiny)
    val dir = java.nio.file.Files.createTempDirectory("part_pq").toString
    Tables.writeParquet(docs, s"$dir/docs", partitionBy = Seq("lang"))
    val back = spark.read.parquet(s"$dir/docs").where(col("lang") === "en")
    val expected = docs.where(col("lang") === "en").count()
    assert(back.count() == expected && expected > 0)
    // partition pruning visible in the scan's location filter
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || back.inputFiles.forall(_.contains("lang=en")))
  }

  test("csv write -> schema-ful read roundtrips simple columns") {
    val docs = Tables.documents(spark, sfTiny)
      .select("doc_id", "lang", "source", "n_chars") // text has newlines; csv is for flat columns
    val dir = java.nio.file.Files.createTempDirectory("csv_rt").toString
    Tables.writeCsv(docs, s"$dir/docs")
    val back = Tables.readCsv(spark, s"$dir/docs", docs.schema)
    val a = docs.orderBy("doc_id").collect().map(_.toSeq)
    val b = back.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("orc write -> read roundtrips and prunes partitions, filters push down") {
    val docs = Tables.documents(spark, sfTiny)
    val dir = java.nio.file.Files.createTempDirectory("orc_rt").toString
    Tables.writeOrc(docs, s"$dir/docs", partitionBy = Seq("lang"))
    val back = Tables.readOrc(spark, s"$dir/docs")
    assert(back.count() == docs.count())
    // same content (partition column moves position; compare by name)
    val cols = docs.columns.sorted.map(col)
    val a = docs.select(cols: _*).orderBy("doc_id").collect().map(_.toSeq)
    val b = back.select(cols: _*).orderBy("doc_id").collect().map(_.toSeq)
    assert(a.sameElements(b))
    // partition pruning + predicate pushdown reach the ORC scan
    val scan = Tables.readOrc(spark, s"$dir/docs")
      .where(col("lang") === "en" && col("n_chars") > 100)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      s"no pushed filters in ORC scan:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"no partition filters in ORC scan:\n$plan")
  }

  test("sortBy layout clusters values so range scans skip row groups") {
    val orders = Tables.orders(spark, sfTiny)
    val dir = java.nio.file.Files.createTempDirectory("sorted_pq").toString
    Tables.writeParquet(orders.repartition(4), s"$dir/o", sortBy = Seq("o_totalprice"))
    val back = spark.read.parquet(s"$dir/o")
    // correctness: nothing lost
    assert(back.count() == orders.count())
    // layout: each file internally sorted on the cluster column
    val perFile = back.select(input_file_name().as("f"), col("o_totalprice"))
      .collect().groupBy(_.getString(0))
    perFile.values.foreach { rows =>
      val vs = rows.map(_.getDouble(1)).toSeq
      assert(vs == vs.sorted, "file not internally sorted")
    }
    assert(perFile.size > 1)
  }

  test("writeSortedParquet produces a total order across files") {
    val orders = Tables.orders(spark, sfTiny)
    val dir = java.nio.file.Files.createTempDirectory("gsorted").toString
    Tables.writeSortedParquet(orders, s"$dir/o", "o_totalprice", numFiles = 4)
    val back = spark.read.parquet(s"$dir/o")
    assert(back.count() == orders.count())
    // per-file [min, max] ranges must not overlap, and file NAME order
    // (part-00000 < part-00001 ...) must equal range order
    val spans = back.select(input_file_name().as("f"), col("o_totalprice"))
      .groupBy("f").agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(spans.length > 1)
    spans.sliding(2).foreach { case Array((_, _, hi1), (_, lo2, _)) =>
      assert(hi1 <= lo2, s"file ranges overlap: $hi1 > $lo2")
    }
  }

  test("mergeSchema read unifies evolved parquet schemas") {
    // schema evolution: v2 of a table adds a column; a mergeSchema
    // read sees the union, with nulls where v1 files lack it
    import org.apache.spark.sql.functions.lit
    val docs = Tables.documents(spark, sfTiny).select("doc_id", "lang")
    val dir = java.nio.file.Files.createTempDirectory("evolve").toString
    docs.where(col("doc_id") < 100).write.parquet(s"$dir/t/v=1")
    docs.where(col("doc_id") >= 100).withColumn("quality", lit(0.5))
      .write.parquet(s"$dir/t/v=2")
    val back = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(back.columns.contains("quality"))
    assert(back.where(col("quality").isNull).count() ==
      docs.where(col("doc_id") < 100).count())
    assert(back.count() == docs.count())
  }

  test("json reader quarantines corrupt records instead of failing the load") {
    val dir = java.nio.file.Files.createTempDirectory("bad_json")
    java.nio.file.Files.writeString(dir.resolve("part.json"),
      """{"doc_id": 1, "lang": "en"}
        |{"doc_id": oops not json
        |{"doc_id": 3, "lang": "de"}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
    // PERMISSIVE (default): bad lines land in _corrupt_record, good rows load.
    // cache() first — Spark refuses raw filters on the corrupt column alone.
    val df = Tables.readJson(spark, dir.toString, schema).cache()
    try {
      assert(df.where(col("_corrupt_record").isNull).count() == 2)
      assert(df.where(col("_corrupt_record").isNotNull).count() == 1)
    } finally df.unpersist()
  }

  test("fixture FK: lineitem.l_partkey ⊆ part.p_partkey (Q14's left-join rewrite rests on it)") {
    // Q14 computes total revenue over a LEFT join against the PROMO
    // slice of part — equivalent to the reference's inner join on the
    // FULL part table ONLY while no lineitem is orphaned (an orphan
    // would count in tc under the rewrite but was excluded before).
    // The invariant held in every generated fixture; this guard makes
    // a future generator change fail loudly instead of silently
    // skewing tc (round-7 advice item 3).
    val orphans = Tables.lineitem(spark, sfTiny).select("l_partkey")
      .join(Tables.part(spark, sfTiny).select("p_partkey"),
        org.apache.spark.sql.functions.col("l_partkey") ===
          org.apache.spark.sql.functions.col("p_partkey"), "left_anti")
      .count()
    assert(orphans == 0L,
      s"$orphans lineitem rows reference a missing part — Q14's " +
        "left-join-on-PROMO-slice rewrite is no longer revenue-equivalent")
  }

  test("warm() size gate: smallest-first selection keeps dims, drops the fact that overflows") {
    // the sf100 shape in miniature: dims fit, the big fact does not
    val sizes = Seq(
      ("lineitem", BigInt(80L << 20)), ("orders", BigInt(20L << 20)),
      ("region", BigInt(1L << 20)), ("nation", BigInt(1L << 20)))
    val chosen = Tables.warmSelection(sizes, budget = 30L << 20)
    assert(chosen == Set("region", "nation", "orders"),
      "dims + the fitting fact stay warm; the overflowing fact falls out")
    // everything fits a big budget; nothing fits a zero budget
    assert(Tables.warmSelection(sizes, 1L << 30) == sizes.map(_._1).toSet)
    assert(Tables.warmSelection(sizes, 0L) == Set.empty[String])
    // smallest-first means a huge first-listed table can't starve the
    // small ones behind it (the all-or-nothing failure mode inverted)
    val skewed = Seq(("fact", BigInt(100L << 20)), ("dim", BigInt(1L << 20)))
    assert(Tables.warmSelection(skewed, 2L << 20) == Set("dim"))
  }

  test("warm() budget follows the session storage region and the override conf") {
    val dflt = Tables.warmBudgetBytes(spark)
    val usable = Runtime.getRuntime.maxMemory() - (300L << 20)
    assert(dflt == (usable * (0.6 * 0.5)).toLong,
      "default budget = storage region: (heap - 300MB) x 0.6 x 0.5")
    withConf("spark.graft.warm.heapFraction" -> "0.1") {
      assert(Tables.warmBudgetBytes(spark) == (usable * 0.1).toLong)
    }
  }

  test("warm() tolerates a partial fixture directory (round-9 ScaleUp `tables` arg)") {
    // a documents/embeddings-only scale fixture must warm without
    // loading the absent tpch facts; queries that DO need an absent
    // table still fail loudly at load() time
    val dir = java.nio.file.Files.createTempDirectory("partialwarm")
    for (t <- Seq("region", "documents"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfTiny/$t.parquet"),
        dir.resolve(s"$t.parquet"))
    Tables.warm(spark, dir.toString) // must not throw
    assert(Tables.documents(spark, dir.toString).count() > 0)
    intercept[Exception] { Tables.lineitem(spark, dir.toString).count() }
  }

  test("events source exposes both exact ts_ns and usable ts") {
    val ev = Tables.events(spark, sfTiny)
    val r = ev.select(col("ts_ns"), unix_micros(col("ts")).as("us")).first()
    assert(r.getLong(0) / 1000L == r.getLong(1))
  }

  test("binaryFile source ingests nested media files, glob-prunes, and feeds packPayload") {
    val dir = java.nio.file.Files.createTempDirectory("binsrc")
    java.nio.file.Files.createDirectories(dir.resolve("2026/01"))
    val png = Array[Byte](0x42, 0x49, 0x4e, 0x01, 0x02, 0x03)
    val wav = Array[Byte](0x52, 0x49, 0x46, 0x46, 0x00)
    java.nio.file.Files.write(dir.resolve("2026/01/a.png"), png)
    java.nio.file.Files.write(dir.resolve("2026/01/b.wav"), wav)
    java.nio.file.Files.write(dir.resolve("2026/01/skip.txt"), "nope".getBytes)

    // glob pruning happens at listing: only .png rows exist
    val pngs = Tables.readBinaryFiles(spark, dir.toString, globFilter = Some("*.png"))
    val rows = pngs.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Array[Byte]]("content").sameElements(png))
    assert(rows(0).getAs[Long]("length") == png.length)

    // unfiltered recursive read sees both media files; route into the
    // multimodal payload schema (the real ingest composition)
    val all = Tables.readBinaryFiles(spark, dir.toString, globFilter = Some("*.{png,wav}"))
    val packed = graft.multimodal.BinaryColumns.packBinary(
      all, xxhash64(col("path")), col("content"), "media")
    assert(packed.count() == 2)
    val feats = graft.multimodal.BinaryColumns.extractFeatures(packed)
    assert(feats.count() == 2)
  }
}
