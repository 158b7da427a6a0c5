package graft

import org.apache.spark.sql.SparkSession

/** Shared self-overwrite guard for append-mode stores (text corpus
  * signatures, media signatures): `mode("overwrite")` deletes target
  * files before the job that READS them runs, so writing a store onto
  * its own input would silently drop all history.
  *
  * Paths are qualified through the Hadoop FileSystem so the guard holds
  * on cluster filesystems (hdfs://, s3a:// — a java.io.File round trip
  * would mangle those), compared by URI ancestry, not substrings
  * (/tmp/a is not an ancestor of /tmp/ab), and local file:// paths are
  * canonicalized so a symlinked outDir cannot slip past (input files
  * via a memoized parent-directory cache — one canonicalization per
  * directory, not one multi-syscall walk per part file; part files are
  * plain files the writer produced, never symlinks).
  */
object PathGuard {

  /** The `gen=<number>` child directories of `dir`, validated: a stray
    * `gen=1.bak` — or an overflowing all-digit name — fails with a
    * message naming itself instead of a bare NumberFormatException with
    * no path context. Non-gen children are ignored; a missing dir is
    * empty. Shared by every generation-per-batch store (the text and
    * media signature deltas). */
  def generationDirs(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .collect { case s if s.startsWith("gen=") =>
        val num = s.stripPrefix("gen=")
        // ASCII digits only, and short enough that toLong cannot
        // overflow (19-digit strings can exceed Long.MaxValue)
        require(num.nonEmpty && num.length <= 18 &&
          num.forall(c => c >= '0' && c <= '9'),
          s"unrecognized directory '$s' under $dir — only gen=<number> " +
            "subtrees belong to a generation store.")
        num.toLong
      }
  }

  /** Throws IllegalArgumentException when any of `inputFiles` lives under
    * `outDir`. `what` names the store for the error message; `hint` tells
    * the caller how to fix their layout (append-store wording by
    * default — pass a curate-appropriate hint from curate paths);
    * `reason` states the hazard (overwrite deletion by default — an
    * append-mode caller's hazard is self-duplication, not deletion). */
  def requireDisjoint(spark: SparkSession, inputFiles: Seq[String],
      outDir: String, what: String,
      hint: String = "Use a fresh outDir per batch.",
      reason: String = DefaultReason): Unit =
    requireDisjointFromAll(spark, inputFiles, Seq(outDir), what, hint, reason)

  private val DefaultReason =
    "mode(\"overwrite\") deletes those files before the job that reads them runs."

  /** [[requireDisjoint]] against several write targets in one pass (each
    * input file is qualified/canonicalized once, not once per target) —
    * for curate-style jobs that overwrite specific SUBDIRS of an output
    * root and must not reject inputs living elsewhere under that root. */
  def requireDisjointFromAll(spark: SparkSession, inputFiles: Seq[String],
      targets: Seq[String], what: String, hint: String,
      reason: String = DefaultReason): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    def qualified(p: String): java.net.URI = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(hconf).makeQualified(path).toUri
    }
    // targets are canonicalized in full — they are exactly the side a
    // symlink arrives on (e.g. /tmp -> /private/tmp) and there are few
    case class Target(uri: java.net.URI, path: String, raw: String)
    val outs = targets.map { t =>
      val u = qualified(t)
      val p = (if (u.getScheme == "file")
          new java.io.File(u.getPath).getCanonicalPath
        else u.getPath).stripSuffix("/")
      Target(u, p, t)
    }
    val canonDirCache = scala.collection.mutable.HashMap.empty[String, String]
    def canonPath(u: java.net.URI): String = {
      val p = u.getPath.stripSuffix("/")
      if (u.getScheme != "file") p
      else {
        val f = new java.io.File(p)
        Option(f.getParent) match {
          case None => f.getCanonicalPath.stripSuffix("/")
          case Some(dir) =>
            val cd = canonDirCache.getOrElseUpdate(dir,
              new java.io.File(dir).getCanonicalPath.stripSuffix("/"))
            s"$cd/${f.getName}"
        }
      }
    }
    def underTarget(f: String): Option[Target] = {
      val u = qualified(f)
      lazy val p = canonPath(u)
      outs.find(o =>
        u.getScheme == o.uri.getScheme &&
          Option(u.getAuthority).getOrElse("") ==
            Option(o.uri.getAuthority).getOrElse("") &&
          (p == o.path || p.startsWith(o.path + "/")))
    }
    inputFiles.iterator.flatMap(f => underTarget(f).map(t => (f, t)))
      .take(1).foreach { case (_, t) =>
        throw new IllegalArgumentException(
          s"the $what is read from files under the write target " +
            s"(${t.raw}): $reason $hint")
      }
  }
}
