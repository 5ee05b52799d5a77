package graft.datagen

import java.nio.file.{Files, Path}

/** Deterministic synthetic hive-style `.log` content — the input of the `l1`
  * query ([[graft.SparkEntry]]) and of the within-file split specs.
  */
object SyntheticLogs {

  /** Writes ~targetMB of log lines to `path`, with multi-line events (1 in 7
    * events gets 2 continuation lines) and 1-in-11 ERROR lines so the parse
    * does real extraction work. Returns the bytes written (the content is
    * ASCII). The content is a pure function of `targetMB`: callers cache the
    * file by size across processes, so a change here must also change its
    * name (a spec pins the 1 MB file's CRC32).
    */
  def writeLog(path: Path, targetMB: Int): Long = {
    val out = Files.newBufferedWriter(path)
    try {
      var bytes = 0L
      val target = targetMB.toLong << 20
      var i = 0
      while (bytes < target) {
        val h = i % 24
        val level = if (i % 11 == 0) "ERROR" else "INFO"
        val line = f"2015-03-23 $h%02d:${i % 60}%02d:${(i * 7) % 60}%02d,${i % 1000}%03d $level%s " +
          f"[thread-${i % 16}%d] operation ${i % 997}%d completed in ${(i * 13) % 5000}%d ms " +
          f"for partition_${i % 64}%d\n"
        out.write(line)
        bytes += line.length
        if (i % 7 == 0) {
          val cont = s"  continuation detail alpha $i\n  continuation detail beta ${i * 3}\n"
          out.write(cont)
          bytes += cont.length
        }
        i += 1
      }
      bytes
    } finally out.close()
  }
}
