package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-smoke data generator: replicates the sf0.1 testdata
  * `factor`× with foreign-key-consistent key shifts (replica i shifts
  * every key domain by i·(max+1), so joins fan out exactly like real
  * larger data instead of degenerating into cross products). Dims
  * (region, nation) stay fixed, fact/entity tables scale; document
  * texts get a per-replica prefix token so exact-dup classes don't
  * explode combinatorially; embeddings replicate as-is. Output uses
  * the driver's one-file-per-table layout so tools/selfcheck.py and
  * Bench run against it unchanged.
  *
  * CONSTANT-DUPLICATION-DENSITY mode (round-5 verdict item 2): the
  * default replication makes every replica of a document a NEAR-dup of
  * every other (texts differ by a prefix token only; embeddings are
  * byte-identical), so near-dup answer size grows ~factor² and sf1→
  * sf10 wall-time measures the output, not the join. With a 4th arg
  * `dupGroup=g`, replicas are grouped into classes of g: within a
  * class, texts differ by the member prefix only (still near-dups) and
  * embeddings are identical; ACROSS classes, every 5th WORD is
  * REPLACED by a class salt token. Replacement (not injection) is
  * load-bearing: every 5-gram window covers exactly one position
  * ≡ 4 (mod 5), so EVERY shingle of a salted text carries its class
  * salt and the cross-class shared-shingle count is exactly ZERO for
  * every document length. (Both injection variants tried first
  * failed at the tails: an every-8-words salt left Jaccard ≈ 0.31
  * overall, and an every-5-words INJECTION left short docs
  * untouched — a 5-word doc kept cross-class Jaccard 0.5, and those
  * docs transitively bridged all classes back into the 2 giant
  * components the mode exists to avoid.) Embeddings are circularly
  * rotated by the class id (near-zero cosine between rotations of a
  * random vector). Duplicates-per-class is then a CONSTANT g at
  * every factor — each class slice inherits only the BASE corpus's
  * intrinsic near-dup components — so near-dup output and component
  * sizes stay bounded and honest plan grading scales linearly with
  * corpus size.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <outDir> <factor> [dupGroup] [tables]
  * `tables` (round-9): comma list restricting which SCALED tables are
  * written (dims region/nation always copy through — they're tiny and
  * most queries need them). The sf100c dedup-family fixture needs only
  * documents,embeddings — writing the 1000× facts too would cost ~15 GB
  * of disk for tables the near-dup queries never read.
  * This is a local test utility — the driver's gates always run on
  * the pristine /root/testdata dirs.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val (src, out, factorS) = (args(0), args(1), args(2))
    val factor = factorS.toInt
    // 0 = legacy all-replicas-one-class behavior
    val dupGroup = args.lift(3).map(_.toInt).getOrElse(0)
    val only: Option[Set[String]] =
      args.lift(4).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val spark = graft.util.BenchConfs.session()
    new java.io.File(out).mkdirs()

    def shiftOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).first().getLong(0) + 1L

    def replicate(df: DataFrame, shifts: Map[String, Long],
                  perReplica: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (k, s)) =>
          d.withColumn(k, col(k) + lit(i.toLong * s))
        }
        perReplica(shifted, i)
      }.reduce(_ union _)

    def writeOne(df: DataFrame, name: String): Unit = {
      val stage = s"$out/.stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$out/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
    }

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    // fixed dims: copy through
    Seq("region", "nation").foreach(t => writeOne(read(t), t))

    val cust = read("customer"); val custS = shiftOf(cust, "c_custkey")
    val supp = read("supplier"); val suppS = shiftOf(supp, "s_suppkey")
    val part = read("part"); val partS = shiftOf(part, "p_partkey")
    val ord = read("orders"); val ordS = shiftOf(ord, "o_orderkey")
    if (wanted("customer"))
      writeOne(replicate(cust, Map("c_custkey" -> custS)), "customer")
    if (wanted("supplier"))
      writeOne(replicate(supp, Map("s_suppkey" -> suppS)), "supplier")
    if (wanted("part"))
      writeOne(replicate(part, Map("p_partkey" -> partS)), "part")
    if (wanted("orders"))
      writeOne(replicate(ord, Map("o_orderkey" -> ordS, "o_custkey" -> custS)), "orders")
    if (wanted("lineitem"))
      writeOne(replicate(read("lineitem"), Map(
        "l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS)), "lineitem")

    if (wanted("events")) {
      val ev = read("events")
      writeOne(replicate(ev, Map(
        "event_id" -> shiftOf(ev, "event_id"),
        "user_id" -> shiftOf(ev, "user_id"))), "events")
    }

    val docs = read("documents")
    if (wanted("documents"))
    writeOne(replicate(docs, Map("doc_id" -> shiftOf(docs, "doc_id")),
      (d, i) => {
        val cls = if (dupGroup > 0) i / dupGroup else 0
        // cross-class dissimilarity: REPLACE every 5th word with the
        // class salt — every 5-gram window contains exactly one
        // replaced position, so cross-class docs share ZERO shingles
        // at any doc length (class 0 keeps the original text so the
        // base corpus is always present verbatim)
        val salted =
          if (cls == 0) d
          else d.withColumn("text",
            regexp_replace(col("text"), "((?:\\S+\\s+){4})\\S+", s"$$1zc${cls}q"))
        if (i == 0) salted
        else salted.withColumn("text", concat(lit(s"r$i "), col("text")))
      }), "documents")

    val emb = read("embeddings")
    // Rotation capacity is the dimensionality: only `dim` distinct
    // circular rotations exist, so past dim classes (factor > 3·dim at
    // dupGroup=3 — the sf100c decade) classes c and c+dim would alias
    // onto BYTE-IDENTICAL transforms and the "cross-class dissimilar"
    // invariant would leak ~factor/dim exact twins per vector. Classes
    // >= dim therefore compose the rotation with a class-keyed ±1
    // hash-sign pattern (xxhash64(j, cls) parity): expected cross-
    // class cosine 0 with std 1/sqrt(dim) — the same ambient random
    // tail the fixture already documents — while classes < dim (all
    // fixtures through sf10c) stay bit-identical to the round-6 form.
    // In-class members still share the transform exactly (it depends
    // only on cls), so duplicates-per-class stays the constant g.
    val dim: Int =
      if (wanted("embeddings"))
        emb.select(size(col("embedding"))).first().getInt(0)
      else 0
    if (wanted("embeddings"))
    writeOne(replicate(emb, Map("vec_id" -> shiftOf(emb, "vec_id")),
      (d, i) => {
        val cls = if (dupGroup > 0) i / dupGroup else 0
        // cross-class dissimilarity: circular rotation by the class id
        // (rotations of a random-ish vector have near-zero cosine);
        // within a class the vectors stay byte-identical near-dups
        val sign =
          if (cls < dim) ""
          else s" * cast(1 - 2 * pmod(xxhash64(j, ${cls}L), 2) as float)"
        if (cls == 0) d
        else d.withColumn("embedding", expr(
          s"""transform(sequence(0, size(embedding) - 1),
             |  j -> element_at(embedding, (cast(j + $cls as int) % size(embedding)) + 1)$sign)
             |""".stripMargin))
      }), "embeddings")

    println(s"[scaleup] wrote ${factor}x of $src to $out")
    spark.stop()
  }
}
