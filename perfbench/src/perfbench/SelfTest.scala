package perfbench

import graft.pipeline.{RunPipeline, Staging}

/** Input-determinism self-test: for every workload's input kind, staging
  * twice with one seed gives byte-identical files and another seed gives
  * different files. Small sizes; the property does not depend on size.
  */
object SelfTest {
  def run(work: String, cores: Int): Boolean = {
    val spark = RunPipeline.sparkSession(cores, "perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    val root = s"$work/selftest"
    Staging.deleteRecursively(root)
    def stage(dirName: String, seed: Long): Seq[(String, String)] = {
      val in = new Inputs(s"$root/$dirName")
      Seq(
        "transcripts" -> in.transcripts(spark, seed, 300),
        "raw_logs" -> in.rawLogs(seed, 4, 8 << 10, 1, 64 << 10),
        "documents" -> in.documentsAndEmbeddings(spark, seed, 200, 100)
      ).map { case (k, d) => k -> Inputs.digest(d) }
    }
    try {
      val a = stage("a", 11L)
      val b = stage("b", 11L)
      val c = stage("c", 12L)
      val results = a.indices.map { i =>
        val (kind, da) = a(i)
        val same = da == b(i)._2
        val differs = da != c(i)._2
        println(f"[selftest] $kind%-12s same seed identical: $same%-5s other seed differs: $differs")
        same && differs
      }
      val ok = results.forall(identity)
      println(s"[selftest] ${if (ok) "PASS" else "FAIL"}")
      ok
    } finally {
      spark.stop()
      Staging.deleteRecursively(root)
    }
  }
}
