package graft.operators

/** The write-once layout protocol shared by the queries that re-lay a
  * dataset before reading it (Relational's range-sort, date-partition,
  * z-order and format round-trips, Media's sniff-routed copies, Ann's
  * judged IVF index).
  *
  * Every layout lives under one per-JVM temp root, named by the layout
  * and a hash of the dataset path: repeat runs inside one JVM reuse the
  * layout, distinct sf dirs get distinct copies, concurrent processes
  * write disjoint directories, and no marker outlives the process that
  * wrote the data it marks.
  *
  * The protocol — check done-marker, write the layout, commit the
  * marker — is not atomic on its own: two concurrent FIRST queries for
  * the same layout can interleave so that one reads a half-written
  * directory. No other process writes under the root, so a JVM-wide
  * monitor (striped per layout dir) is the whole fix.
  */
private[operators] object LayoutLock {

  private lazy val root: java.io.File =
    java.nio.file.Files.createTempDirectory("graft_layout").toFile

  /** One lock per layout directory path, so unrelated layouts don't
    * serialize each other; the map itself is the only global point. */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Dataset-path tag naming the per-JVM copies of `d` — a PATH hash,
    * also the suffix of `joinBucketed`'s catalog tables. */
  def pathTag(d: String): String = java.lang.Integer.toHexString(d.hashCode)

  /** Run `write(dir)` exactly once per JVM for layout `name` of dataset
    * `d`, committing the done-marker AFTER the write (a crashed write
    * rewrites rather than serving partial files). `mkdirs` creates the
    * directory first, for writers that put files into it themselves.
    * Returns the layout directory path. */
  def once(name: String, d: String, mkdirs: Boolean = false)(
      write: String => Unit): String = {
    val dir = new java.io.File(root, s"${name}_${pathTag(d)}")
    val lock = locks.computeIfAbsent(dir.getPath, _ => new Object)
    lock.synchronized {
      val done = new java.io.File(dir, "_graft_layout_done")
      if (!done.exists()) {
        if (mkdirs) dir.mkdirs()
        write(dir.toString)
        done.createNewFile()
        ()
      }
    }
    dir.getPath
  }
}
