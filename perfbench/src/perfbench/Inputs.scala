package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.datagen.SyntheticTranscripts
import graft.pipeline.{Rng, Staging}

/** Seeded inputs, staged once per (kind, seed, size) under `root` and reused
  * by later runs. Every byte is a pure function of the key, so the same seed
  * stages the same bytes ([[digest]] proves it in the self-test). A stage is
  * written to a temp dir and renamed into place, so an interrupted run never
  * leaves a half-written input behind.
  */
final class Inputs(root: String) {

  private def staged(key: String)(write: Path => Unit): String = {
    val dir = Paths.get(root, key)
    if (!Files.exists(dir.resolve("_READY"))) {
      val tmp = Paths.get(root, s"$key.tmp-${ProcessHandle.current().pid()}")
      Staging.deleteRecursively(tmp.toString)
      Files.createDirectories(tmp)
      write(tmp)
      Files.createFile(tmp.resolve("_READY"))
      Staging.deleteRecursively(dir.toString)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    }
    dir.toString
  }

  /** The transcript table as parquet: hash-placed on conv_id and sorted, so
    * each of the 16 part files holds the same rows in the same order on
    * every run.
    */
  def transcripts(spark: SparkSession, seed: Long, nConvs: Long): String =
    staged(s"transcripts-s$seed-c$nConvs") { dir =>
      SyntheticTranscripts.generate(spark, nConvs, seed)
        .repartition(16, col("conv_id"))
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.parquet(dir.resolve("turns").toString)
    }

  /** Raw `.log` files built from the transcript generator's multi-line turn
    * texts: `nSmall` files of about `smallBytes` and `nLarge` files of about
    * `largeBytes`. Conversation ids never repeat across files.
    */
  def rawLogs(seed: Long, nSmall: Int, smallBytes: Int, nLarge: Int, largeBytes: Int): String =
    staged(s"raw_logs-s$seed-${nSmall}x$smallBytes-${nLarge}x$largeBytes") { dir =>
      var conv = 0L
      def writeFile(name: String, target: Int): Unit = {
        val sb = new java.lang.StringBuilder(target + 4096)
        while (sb.length < target) {
          val n = SyntheticTranscripts.convSize(seed, conv)
          var t = 0
          while (t < n) {
            val role = SyntheticTranscripts.roleOf(seed, conv, t)
            val tool = SyntheticTranscripts.toolOf(seed, conv, t, role)
            sb.append(SyntheticTranscripts.buildText(seed, conv, t, role, tool))
            t += 1
          }
          conv += 1
        }
        Files.write(dir.resolve(name), sb.toString.getBytes(StandardCharsets.UTF_8))
      }
      (0 until nLarge).foreach(i => writeFile(f"large-$i%03d.log", largeBytes))
      (0 until nSmall).foreach(i => writeFile(f"small-$i%04d.log", smallBytes))
    }

  /** `documents` and `embeddings` tables with the shapes and distributions
    * of the repository's sf test tables: documents are 10–100 words drawn
    * uniformly from a 30-word vocabulary, 20 sources assigned by id, 5% of
    * documents a copy of another document plus the word "dup"; embeddings
    * are uniform random unit vectors of dimension 64 with a uniform label in
    * 0..9. The seed picks every word, copy source and vector.
    */
  def documentsAndEmbeddings(spark: SparkSession, seed: Long, nDocs: Int, nVecs: Int): String =
    staged(s"documents-s$seed-d$nDocs-v$nVecs") { dir =>
      import spark.implicits._
      val words = Vector("spark", "window", "merge", "table", "column", "vector", "stream",
        "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
        "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
        "scan", "batch")
      val langs = Vector("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh", "zh",
        "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")
      def base(i: Int): String = {
        val r = Rng.mix2(seed, i.toLong)
        (0 until 10 + Rng.bounded(r, 91))
          .map(w => words(Rng.bounded(Rng.mix2(r, w.toLong), words.size))).mkString(" ")
      }
      val docs = (0 until nDocs).map { i =>
        val r = Rng.mix2(seed ^ 0x5bd1e995L, i.toLong)
        val text =
          if (Rng.bounded(r, 100) < 5) base(Rng.bounded(Rng.mix(r), nDocs)) + " dup" else base(i)
        (i.toLong, text, langs(Rng.bounded(Rng.mix2(r, 1L), langs.size)), s"src${i % 20}",
          text.length.toLong)
      }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
        .write.parquet(dir.resolve("documents.parquet").toString)

      val vecs = (0 until nVecs).map { i =>
        val rnd = new java.util.Random(Rng.mix2(seed ^ 0x2545f491L, i.toLong))
        val v = Array.fill(64)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        (i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
      }
      vecs.toDF("vec_id", "embedding", "label").coalesce(1)
        .write.parquet(dir.resolve("embeddings.parquet").toString)
    }
}

object Inputs {

  /** SHA-256 over a staged input's data files in name order. Parquet part
    * files are named with a per-write job id, so for them only the content
    * and the part index count; `_READY` and checksum files are skipped.
    */
  def digest(dir: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val s = Files.walk(Paths.get(dir))
    val files =
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    def stable(p: Path): String = {
      val rel = Paths.get(dir).relativize(p).toString
      rel.replaceAll("part-(\\d+)-[0-9a-f-]+", "part-$1")
    }
    files.filter { p =>
      val n = p.getFileName.toString
      n != "_READY" && !n.startsWith(".") && !n.startsWith("_SUCCESS")
    }.sortBy(stable).foreach { p =>
      md.update(stable(p).getBytes(StandardCharsets.UTF_8))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
