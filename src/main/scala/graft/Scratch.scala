package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Per-JVM scratch directories for queries that synthesize their own
  * stores (the z* gate queries) and for the shared materialized
  * relations ([[graft.queries.Materialized]]). One directory per tag,
  * reused across invocations — Bench runs every query twice per round,
  * and repeated rounds previously accumulated unbounded copies under
  * /tmp. Temp-rooted scratch is removed by a shutdown hook.
  *
  * Deployment root: by default every dir is a fresh per-JVM temp dir
  * (hermetic — tests, bench, and verify can never see a stale artifact).
  * Setting `SPARK_GRAFT_SCRATCH_ROOT` (env) or `graft.scratch.root`
  * (system property, which wins) points scratch at a PERSISTENT
  * location so materialized relations survive across driver JVMs
  * instead of rebuilding per session. The root may be a plain local
  * path OR any scheme-qualified Hadoop-FS URI resolvable through the
  * active session's Hadoop configuration (hdfs://, s3a://, a custom
  * `fs.<scheme>.impl`, …): [[graft.queries.Materialized]] probes and
  * commits exclusively through the Hadoop FileSystem API, and so do the
  * z* synthetic-store fixtures (SyntheticCzi whole-file writes, ZarrIO)
  * and the StreamGate chunk staging — the ENTIRE gate surface runs
  * under a scheme-qualified root (MockSchemeFsSpec drives a z-query and
  * a stream family end-to-end on `mock://`). Persistent
  * dirs are NOT deleted on shutdown; the root is an operator-managed
  * cache keyed by corpus path+hash+content-fingerprint (see
  * [[graft.queries.Materialized.dirTag]]), so distinct corpora never
  * alias AND a corpus regenerated in place under the same path gets a
  * fresh key (stale artifacts are simply never read again; prune the
  * root like any cache). Concurrent writers across JVMs commit via
  * staging + atomic rename on atomic-rename stores, or via an
  * atomically-created pointer object on object-store schemes (see
  * [[graft.queries.Materialized.commitProtocol]] — schemes that are
  * neither are refused loudly); a committed artifact is never
  * overwritten.
  */
object Scratch {
  private val dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  // temp-rooted dirs only: persistent dirs must survive shutdown, and a
  // JVM can hold both kinds (a test flips the property mid-run), so the
  // mode is recorded per dir at creation, not re-read at shutdown
  private val tempDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    tempDirs.forEach(d => deleteRecursively(Paths.get(d)))
  }))

  /** The persistent root, if configured (system property wins over env
    * so a test JVM can redirect itself without touching the process
    * environment). Read per call: cheap, and lets one JVM's suites
    * exercise both modes. */
  private def persistentRoot: Option[String] =
    sys.props.get("graft.scratch.root")
      .orElse(sys.env.get("SPARK_GRAFT_SCRATCH_ROOT"))
      .filter(_.nonEmpty)

  /** The scratch dir for `tag` (created on first use). Writers into it
    * must be idempotent — the same tag returns the same path for the
    * lifetime of the JVM (temp root) or of the persistent root.
    * Creation is serialized on the same monitor as [[withRoot]], so a
    * parallel suite's first touch can never land inside another test's
    * root window (reads of an existing tag stay lock-free). */
  def dir(tag: String): String = {
    val hit = dirs.get(tag)
    if (hit != null) hit else synchronized { dirCreate(tag) }
  }

  private def dirCreate(tag: String): String =
    dirs.computeIfAbsent(tag, t => persistentRoot match {
      case Some(root) if root.contains("://") =>
        // scheme-qualified root: resolve through the session's Hadoop
        // conf (where fs.<scheme>.impl registrations and object-store
        // credentials live — a fresh Configuration would drop the
        // spark.hadoop.* overlays, the MockSchemeFsSpec bug class)
        val p = new org.apache.hadoop.fs.Path(root, s"graft-$t")
        p.getFileSystem(graft.core.HadoopConf.get).mkdirs(p)
        p.toString
      case Some(root) =>
        val p = Paths.get(root, s"graft-$t")
        Files.createDirectories(p)
        p.toString
      case None =>
        val p = Files.createTempDirectory(s"graft-$t").toString
        tempDirs.add(p)
        p
    })

  /** Test support: drop cached tag→dir pins so the next touch of each
    * tag re-resolves under the THEN-current root. Needed by specs that
    * enter [[withRoot]] after the same tags were already touched under
    * the default temp root (the pin is per-JVM by design). Temp dirs
    * stay registered for shutdown deletion. */
  private[graft] def evict(tags: String*): Unit = synchronized {
    tags.foreach(dirs.remove)
  }

  /** Test support: run `f` with the persistent root pinned to `root`,
    * serialized process-wide so parallel suites can't first-touch a tag
    * inside another test's root window, and with every dir created
    * DURING the window evicted from the per-tag cache afterwards (so a
    * later touch of the same tag re-resolves under the then-current
    * mode instead of staying pinned to a finished test's root — the
    * r15 ADVICE hazard). */
  private[graft] def withRoot[T](root: String)(f: => T): T = synchronized {
    import scala.jdk.CollectionConverters._
    val before = dirs.keySet().asScala.toSet
    val prev = sys.props.get("graft.scratch.root")
    sys.props("graft.scratch.root") = root
    try f
    finally {
      prev match {
        case Some(p) => sys.props("graft.scratch.root") = p
        case None => sys.props.remove("graft.scratch.root")
      }
      dirs.keySet().asScala.toSet.diff(before).foreach(dirs.remove)
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
