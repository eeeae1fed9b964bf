package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Verdict-item harness: demonstrate the MinHash-LSH candidate path
  * beating the exact n-gram join IN THE REGIME IT EXISTS FOR —
  * a paraphrase-heavy corpus where near-dups are DISTINCT documents
  * (word-level edits), so the exact-dup collapse that carries the
  * replicated sf1.0 corpus cannot shortcut anything and the exact
  * inverted-index join pays its full common-gram fan-out.
  *
  * The generator expands every source document into `variants`
  * versions: variant 0 is the original; each other variant rewrites
  * ~`pPct`% of words to a seeded-hash vocabulary pick. All edits are
  * pure functions of (doc_id, variant, word index) via xxhash64, so
  * the corpus is bit-reproducible — no RNG state, same rows on every
  * run and every partitioning. At ~5% substitution a base↔variant
  * pair keeps ≈ (0.95)³ of its word-trigram positions (J ≈ 0.75) and
  * variant↔variant pairs land around J ≈ 0.6 — solidly above the
  * tau = 0.5 report threshold, i.e. genuine near-dups that only the
  * pair pipelines can find.
  *
  * Usage: runMain graft.tools.ParaphraseBench [srcDir] [variants] [outJson]
  * Writes one BENCH-style JSON line: corpus size, exact wall, LSH wall,
  * LSH recall vs the exact truth set.
  */
object ParaphraseBench {

  /** Deterministic paraphrase expansion (pure Spark expressions — the
    * per-word lambda is an interpreted HOF, acceptable in a one-off
    * corpus generator, never in an operator). */
  def paraphraseCorpus(docs: DataFrame, variants: Int, pPct: Int = 5)
      : DataFrame = {
    val spark = docs.sparkSession
    // corpus vocabulary for substitutions: small by construction here;
    // a production generator would sample it
    val vocab = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct().orderBy("w").collect().map(_.getString(0))
    val vlit = array(vocab.map(lit): _*)
    val nv = lit(vocab.length)
    docs
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        explode(array((0 until variants).map(lit): _*)).as("k"))
      .select(
        (col("doc_id") * variants + col("k")).as("doc_id"),
        when(col("k") === 0, col("text")).otherwise(
          array_join(
            transform(split(col("text"), " "),
              (w: Column, i: Column) =>
                when(pmod(xxhash64(col("doc_id"), col("k"), i),
                  lit(100)) < lit(pPct),
                  element_at(vlit,
                    pmod(xxhash64(col("doc_id"), col("k"), i, lit(7)),
                      nv).cast("int") + 1))
                  .otherwise(w)),
            " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val variants = if (args.length > 1) args(1).toInt else 10
    val outJson = if (args.length > 2) args(2) else "BENCH_PARA.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.session(s"local[$cpus]", cpus.toInt,
      Seq("spark.ui.enabled" -> "false"))
    spark.sparkContext.setLogLevel("WARN")

    // per-run scratch root: fixed /tmp paths let concurrent or stale
    // runs clobber each other's corpora and silently skew the
    // recall/wall numbers this tool exists to report
    val scratch = java.nio.file.Files.createTempDirectory("graft_para_")
      .toString
    val corpusPath = s"$scratch/corpus"
    paraphraseCorpus(graft.Tables.documents(spark, srcDir), variants)
      .repartition(cpus.toInt)
      .write.mode("overwrite").parquet(corpusPath)
    val docs = spark.read.parquet(corpusPath)
    val nDocs = docs.count()
    val nDistinct = docs.select("text").distinct().count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val tau = 0.5
    // warm codegen/JIT on a slice so neither contender pays startup
    Dedup.minhashLsh(docs.limit(200), tau).write
      .format("noop").mode("overwrite").save()

    val (lsh, lshSec) = timed {
      Dedup.lshPairs(docs, tau).write.mode("overwrite")
        .parquet(s"$scratch/lsh")
      spark.read.parquet(s"$scratch/lsh").count()
    }
    val (exact, exactSec) = timed {
      Dedup.ngramJaccard(docs, tau).select("d1", "d2").write
        .mode("overwrite").parquet(s"$scratch/exact")
      spark.read.parquet(s"$scratch/exact").count()
    }
    val inter = spark.read.parquet(s"$scratch/lsh")
      .join(spark.read.parquet(s"$scratch/exact"), Seq("d1", "d2"))
      .count()
    val recall = if (exact == 0) 1.0 else inter.toDouble / exact
    val json =
      f"""{"corpus":"$srcDir x$variants","n_docs":$nDocs,""" +
        f""""n_distinct_texts":$nDistinct,"tau":$tau,""" +
        f""""exact_pairs":$exact,"lsh_pairs":$lsh,""" +
        f""""exact_sec":$exactSec%.1f,"lsh_sec":$lshSec%.1f,""" +
        f""""recall":$recall%.4f}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    scala.util.Try(org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(scratch)))
    spark.stop()
  }
}
