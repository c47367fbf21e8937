package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The one session-lifetime memo of deterministic sub-results: the pair
  * mine (DedupQueries.ngramPairs), the one k-means fit
  * (KMeans.fitSubspaces: IVF lists, SemDeDup, product-quantizer codebooks,
  * the inverted multi-index) and the bigram LM counts
  * (TextModels.bigramCounts). Each holds bounded DRIVER values (centroids,
  * codebooks, count tuples, mined pair rows), never a persisted frame:
  * Bench and Verify unpersist every persistent RDD between queries, which
  * would sever a memoized checkpoint's lineage.
  *
  * Key rule: the caller's tag and parameters, the input's canonical
  * OPTIMIZED plan, and per file leaf its root paths plus a hash of every
  * file's path|length|mtime. The canonical plan of a file scan prints no
  * path and no data, so the roots and stamps are what pin the data
  * identity: another corpus of the same schema, or a path rewritten in
  * place within the JVM, misses. An input with any non-file leaf
  * (LocalRelation, LogicalRDD — constructed and checkpointed frames)
  * prints no data identity at all and is computed on every call.
  *
  * Bounds: at most [[MaxEntries]] entries; past that, results are served
  * without being memoized. Callers bound their own entry size (the pair
  * memo's row bound). [[clear]] is reached through
  * Graft.clearSessionMemos, which harnesses call between timed passes.
  *
  * Lookups run get → compute → putIfAbsent, never computeIfAbsent: a
  * compute runs Spark jobs, which must not hold a lock on the shared map
  * (concurrent queries would serialize, and a compute that reaches another
  * memo would fail as a recursive update). Two racing computes of one key
  * both run; the first value stored is the one both return. Each compute
  * stays in its owning module, so its jobs keep that module's call site. */
object SessionMemo {

  private val MaxEntries = 64

  private val entries = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Memo key of `input` for (`tag`, `params`); None when `input` has a
    * leaf that is not a file scan, i.e. when it must not be memoized. */
  def key(tag: String, input: DataFrame, params: Any*): Option[String] = {
    val plan = input.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan
    val leaves = plan.collectLeaves()
    val files = leaves.collect {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation]
    }
    if (leaves.isEmpty || files.size != leaves.size) None
    else {
      val roots = files.map { rel =>
        val stamp = rel.location.listFiles(Nil, Nil).flatMap(_.files)
          .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}")
          .sorted.mkString("\n").hashCode
        rel.location.rootPaths.mkString(",") + "#" + stamp
      }.mkString(";")
      val canon = plan.canonicalized
      Some((tag +: params :+ roots :+ canon.hashCode :+ canon).mkString("|"))
    }
  }

  def get[T <: AnyRef](key: String): Option[T] =
    Option(entries.get(key)).map(_.asInstanceOf[T])

  /** Store `value` under `key` unless the key is taken or the map is full;
    * returns the value the memo holds for `key` afterwards (or `value`). */
  def put[T <: AnyRef](key: String, value: T): T =
    if (entries.size >= MaxEntries) value
    else Option(entries.putIfAbsent(key, value)).fold(value)(_.asInstanceOf[T])

  /** `compute`, memoized under [[key]]; computed on every call for an
    * input with a non-file leaf. */
  def apply[T <: AnyRef](tag: String, input: DataFrame, params: Any*)(compute: => T): T =
    key(tag, input, params: _*) match {
      case None => compute
      case Some(k) => get[T](k).getOrElse(put(k, compute))
    }

  def clear(): Unit = entries.clear()
}
