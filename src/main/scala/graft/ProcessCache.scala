package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The engine's one build-once memo for INGEST-time artifacts: trained
  * ANN models, built graphs, bucketed tables, staged and synthesized
  * fixture directories, land-cell masks. Repeated invocations of a
  * registered query reuse one build instead of re-running it per call.
  *
  * One rule for every artifact:
  *   - the key is (applicationId, name). A localCheckpointed table or a
  *     catalog table is bound to its SparkContext, so a fresh context
  *     never sees a stale entry, and entries of DEAD contexts are
  *     evicted on the next lookup;
  *   - each entry carries the file-listing fingerprint of the inputs
  *     the caller names (paths, or one frame whose canonicalized plan
  *     joins the name). When the fingerprint changes the artifact is
  *     rebuilt and the entry replaced; an input the fingerprint cannot
  *     cover is rebuilt on every call, never cached;
  *   - every build is timed in [[builds]].
  *
  * A lookup is a map probe plus a listing of the named inputs: no
  * Spark job, no frame resolution. */
private[graft] object ProcessCache {
  // key -> (fingerprint, artifact)
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, (String, Any)]()
  private val buildSecs = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Per-name build wall seconds for this process (names without the
    * applicationId prefix; a rebuild replaces the value). The bench
    * record publishes this so the one-time ingest cost of each
    * artifact is a separately-timed, visible number instead of hiding
    * inside whichever warmup query happened to touch the cache first —
    * cross-round deltas of the artifact-CONSUMING queries then compare
    * probe work only. */
  def builds: Map[String, Double] = buildSecs.asScala.toMap

  /** Lookup-or-build of the artifact `name` over the files under the
    * `inputs` paths (a missing path lists as empty). */
  def get[A](s: SparkSession, name: String, inputs: String*)(mk: => A): A =
    memo(s, name, Some(digest(inputs.flatMap { in =>
      val p = new org.apache.hadoop.fs.Path(in)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val files = if (!fs.exists(p)) Iterator.empty else {
        val it = fs.listFiles(p, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      }
      files.map(f => s"${f.getPath}#${f.getLen}#${f.getModificationTime}").toSeq.sorted
    })))(mk)

  /** Lookup-or-build of an artifact derived from the frame `input`: its
    * canonicalized plan joins the name and [[sourceFingerprint]] is the
    * entry's fingerprint. */
  def get[A](s: SparkSession, name: String, input: DataFrame)(mk: => A): A =
    memo(s, name + ":" + digest(Seq(input.queryExecution.analyzed.canonicalized
      .treeString(verbose = true, maxFields = Int.MaxValue))), sourceFingerprint(input))(mk)

  /** The build runs OUTSIDE the map's bin lock (lookup → build →
    * merge, NOT compute) so an artifact whose build consumes ANOTHER
    * cached artifact can nest lookups legally; `compute` throws
    * "Recursive update" when the nested call lands in the same bin.
    * The race this admits (two threads both building, the first
    * merge of a fingerprint wins) is benign — both builds produce the
    * same deterministic artifact. */
  private def memo[A](s: SparkSession, name: String,
      fingerprint: Option[String])(mk: => A): A = {
    val prefix = s.sparkContext.applicationId + ":"
    cache.keySet.removeIf(k => !k.startsWith(prefix))
    val hit = cache.get(prefix + name)
    if (hit != null && fingerprint.contains(hit._1)) hit._2.asInstanceOf[A]
    else {
      val t0 = System.nanoTime()
      val fresh = (fingerprint.orNull, mk: Any)
      val kept = fingerprint.fold(fresh)(_ => cache.merge(prefix + name, fresh,
        (old, neu) => if (old._1 == neu._1) old else neu))
      if (kept eq fresh) buildSecs.put(name, (System.nanoTime() - t0) / 1e9)
      kept._2.asInstanceOf[A]
    }
  }

  private def digest(entries: Seq[String]): String =
    java.util.UUID.nameUUIDFromBytes(entries.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString

  /** Fingerprint of the concrete files behind a plan's file sources:
    * (path, length, modificationTime) of every file the scan would
    * read, taken from each relation's own FileIndex listing (already
    * computed for the scan — no extra IO).
    *
    * Returns None — and the memo then SKIPS caching entirely (fail
    * closed) — when the plan contains anything the listing cannot
    * cover: a non-file v1 relation, a DSv2 or RDD-backed or any other
    * unrecognized leaf, or a subquery expression (whose nested plan
    * this traversal does not descend into). The covered leaves are v1
    * file relations (fingerprinted by listing), LocalRelation
    * (fingerprinted by its rows, which the plan string does not print)
    * and OneRowRelation/Range, whose plan string is their content. */
  private[graft] def sourceFingerprint(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.catalyst.plans.logical
    val entries = Seq.newBuilder[String]
    var covered = true
    df.queryExecution.analyzed.foreach { node =>
      if (node.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression])))
        covered = false
      node match {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            // listFiles yields (path, length, mtime) for ANY FileIndex
            // implementation — a path+size-only fallback would miss an
            // in-place overwrite of identical total size, exactly the
            // staleness class this fingerprint exists to catch
            entries ++= fs.location.listFiles(Nil, Nil).flatMap(_.files)
              .map(f => s"${f.getPath}#${f.getLen}#${f.getModificationTime}").sorted
          case _ => covered = false
        }
        case l: logical.LocalRelation => entries ++= l.data.map(_.toString)
        case _: logical.OneRowRelation | _: logical.Range => ()
        case _: logical.LeafNode => covered = false
        case _ => ()
      }
    }
    if (covered) Some(digest(entries.result())) else None
  }
}
