package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Build-once STANDING artifacts — the one implementation of the
  * contract every `ensure*` accessor shares (indexes, sketches,
  * snapshots, overlays, bucketed tables). An artifact is served as-is
  * when this JVM's memo holds the caller's key for it AND its
  * completeness witness is present; otherwise:
  *
  *   - the memo entry and every witness are cleared BEFORE the build
  *     runs, and the memo is written only after the build returns — a
  *     build that dies partway leaves nothing a later call trusts (no
  *     marker from the previous build vouching for a mixed artifact),
  *     so the next call simply rebuilds;
  *   - the memo keys on what the caller passes (the corpus dir, plus
  *     any build geometry): the immutable-corpus assumption — rewriting
  *     a corpus in place at the same path serves the stale artifact,
  *     and mutable corpora must rebuild explicitly.
  *
  * Each artifact id has its OWN lock: independent artifacts build
  * concurrently (the [[Par]] serves), two callers of the same artifact
  * build it once. A build may ensure the artifacts it reads (an overlay
  * ensures its base index); those dependencies are acyclic, so nested
  * locks are always taken in dependency order and cannot deadlock. A
  * build that registers a temp view must not share the view name with
  * an artifact that can build at the same time: `ivf_retrain` writes
  * `graft_ivf_centroids` only after ensuring `ivf_index`, whose build
  * writes the same name.
  */
object Standing {
  // artifact id -> memo key of the build that last completed there
  private val builtFor = scala.collection.concurrent.TrieMap[String, Any]()
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** A standing directory artifact under the corpus-scoped
    * `Layout.indexBase(spark, sfDir, name)`, returned to the caller. Its
    * witness is the `_SUCCESS` marker of every `markers` subdir — the
    * table(s) the build writes LAST, so a marker implies the complete
    * artifact. The memo keys on `(sfDir, params)`; `params` carries
    * build geometry beyond the corpus (e.g. a carve tag).
    */
  def dir(spark: SparkSession, sfDir: String, name: String,
      markers: Seq[String], params: Any = ())(build: String => Unit): String = {
    val base = Layout.indexBase(spark, sfDir, name)
    val witnesses = markers.map(m => new Path(s"$base/$m/_SUCCESS"))
    val fs = witnesses.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    ensure(witnesses.mkString(","), (sfDir, params),
        witnesses.forall(fs.exists)) {
      witnesses.foreach(fs.delete(_, false))
      build(base)
    }
    base
  }

  /** A standing set of bucketed catalog tables
    * ([[Layout.saveBucketed]]), witnessed by each table being available
    * in this session ([[Layout.ensureBucketedAttached]] re-attaches a
    * previous session's complete files). `saveBucketed` drops each
    * table's catalog entry and files before rewriting it, so the build
    * itself clears the witnesses.
    */
  def tables(spark: SparkSession, tables: Seq[String], key: Any)(
      build: => Unit): Unit =
    ensure(tables.mkString(","), key,
      tables.forall(Layout.ensureBucketedAttached(spark, _)))(build)

  private def ensure(id: String, key: Any, present: => Boolean)(
      build: => Unit): Unit =
    locks.computeIfAbsent(id, _ => new Object).synchronized {
      if (!(builtFor.get(id).contains(key) && present)) {
        builtFor.remove(id)
        build
        builtFor(id) = key
      }
    }
}
