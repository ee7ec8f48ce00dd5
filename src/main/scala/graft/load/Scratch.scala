package graft.load

import java.io.File

/** Shared scratch-directory helpers for the engine's temp-backed flows
  * (incremental dedup queries, store staging). One definition of the
  * recursive delete and of the process-unique naming scheme — md5 of the
  * logical key (collision-proof, unlike hashCode) plus a UUID suffix so
  * concurrent invocations can never clear each other's directory.
  */
object Scratch {

  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Recursive delete; tolerates races and missing paths. */
  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** A fresh process-unique scratch dir under java.io.tmpdir. */
  def dir(prefix: String, key: String): File =
    new File(System.getProperty("java.io.tmpdir"),
      prefix + "_" + md5hex(key) + "_" +
        java.util.UUID.randomUUID().toString.take(8))

  /** Run `body` with a fresh scratch dir, ALWAYS removing it afterwards —
    * a crashed run must not leak a uniquely-named directory forever.
    * Anything `body` returns must not read the directory lazily
    * (checkpoint DataFrames before returning). */
  def withScratch[T](prefix: String, key: String)(body: File => T): T = {
    val d = dir(prefix, key)
    try body(d) finally rm(d)
  }
}
