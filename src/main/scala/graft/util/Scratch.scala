package graft.util

/** Per-JVM scratch directories: the only owner of run-private paths
  * under /tmp. Three kinds of caller claim them: the write→read-back
  * sink oracles (q171 audit trail, q193/q198/q267 layout round trips,
  * q271/q272/q273 sink round trips) and Bench's private stage store,
  * keyed by purpose + pid + a sanitized corpus tag, and the stream
  * stores (drainToParquet, the upsert and heavy-hitter stores), one
  * unique directory per call. A
  * corpus-keyed path means two corpora probed in one JVM never share a
  * directory (a lazily held DataFrame from the first call would
  * silently read the second corpus's files), and the pid means two
  * JVMs never race. A directory is wiped on the FIRST claim per JVM
  * (not on repeats — a live plan from an earlier identical call may
  * still read it; the rewrite is mode=overwrite anyway). One exit hook,
  * registered by the first claim, deletes every claimed directory, so
  * nothing leaks into /tmp across runs.
  */
object Scratch {

  private val claimed = scala.collection.mutable.Set[String]()

  /** Claim (and on first use wipe + schedule-for-deletion) the scratch
    * directory for `purpose` over the corpus at `tagSource`. */
  def dir(purpose: String, tagSource: String): String = {
    val tag = tagSource.replaceAll("[^A-Za-z0-9.]+", "_")
      .replaceAll("^_+|_+$", "")
    val path =
      s"/tmp/graft_${purpose}_${ProcessHandle.current().pid()}_$tag"
    claimed.synchronized {
      if (claimed.isEmpty)
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          claimed.synchronized(claimed.toList).foreach(wipe)))
      if (claimed.add(path)) wipe(path)
    }
    path
  }

  /** Like [[dir]], but wiped on EVERY call: for sinks that APPEND
    * during the call (q171's audit trail), where a leftover from an
    * earlier call would double the result. */
  def freshDir(purpose: String, tagSource: String): String = {
    val path = dir(purpose, tagSource)
    wipe(path)
    path
  }

  /** A claimed directory no other call shares: for a store one call
    * writes and the DataFrame it returns reads lazily. */
  def uniqueDir(purpose: String): String =
    dir(purpose, java.util.UUID.randomUUID().toString.replace("-", ""))

  /** Sanitized corpus tag, usable in catalog TABLE names (saveAsTable
    * sinks need per-corpus tables for the same non-collision reason;
    * dots are not identifier-safe, unlike in paths). */
  def tableTag(tagSource: String): String =
    tagSource.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")

  private def wipe(path: String): Unit =
    new scala.reflect.io.Directory(new java.io.File(path))
      .deleteRecursively(): Unit
}
