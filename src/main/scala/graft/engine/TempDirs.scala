package graft.engine

/** Disposable temp directories: streaming sinks, checkpoints, and version
  * chains that matter only until their query's RESULT has been consumed —
  * distinct from [[FixtureDirs]], whose directories are read-side inputs
  * that must live for the whole JVM. Replays create through here; the
  * gate mains call [[sweep]] after consuming each query, through
  * `SparkEntry.release`.
  *
  * Why sweeping is load-bearing: each streaming replay fsyncs dozens of
  * small checkpoint/sink files. Left on disk across a 200+-query session
  * (×3 trio runs), the accumulated dirty writeback measurably degrades
  * every later durable write — SCALE.md "Round 7 / The I/O canary" measured
  * small fsync'd writes inflating 3-12× late in bench sessions while compute
  * stays flat, and the worst streaming readings cluster exactly there.
  * Deleting a sink right after consumption also cancels writeback its
  * pages still owed, so prompt sweeping cuts real disk traffic, not just
  * directory clutter. Tests never sweep (suites manage their own dirs).
  */
object TempDirs {
  private val live = scala.collection.mutable.ListBuffer[java.nio.file.Path]()

  /** Create and register a disposable temp directory. */
  def create(prefix: String): String = synchronized {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    live += p
    p.toString
  }

  /** Recursively delete every registered directory (best effort — a file
    * pinned by a lagging executor thread just stays for the next sweep).
    */
  def sweep(): Unit = synchronized {
    val keep = live.filterNot(deleteRecursively)
    live.clear()
    live ++= keep
  }

  private def deleteRecursively(p: java.nio.file.Path): Boolean =
    try {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
      true
    } catch { case _: Throwable => false }
}
