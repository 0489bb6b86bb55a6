package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Sizes Spark's JVM-wide codegen cache to this program's working set.
  *
  * `CodeGenerator` keeps every class whole-stage codegen compiles in one
  * LRU cache, sized once, when the object is first used, from the static
  * conf `spark.sql.codegen.cache.maxEntries` (Spark's default 100). One
  * `analytics` pass of perfbench needs 120 distinct classes, so at 100
  * every warm pass recompiled about 100 of them; the 284-query suite needs 4,082
  * at sf0.01. `sizeCodegenCache` forces that first use under a copy of the
  * active conf that sets the bound to [[CacheMaxEntries]], unless the conf
  * sets it explicitly: that value is a deployment setting and is kept.
  * Each entry path calls it before its first compile (`Harness.session`,
  * `SparkEntry`, `ReplicationJob`); once `CodeGenerator` is initialized,
  * the call does nothing. `SQLConf.withExistingConf` is `private[sql]`,
  * so this forwarder sits in `org.apache.spark.sql`, like
  * [[GraftSessionBridge]].
  */
object GraftCodegenBridge {

  /** About 2× the 4,082 classes of the 284-query suite at sf0.01. A cached
    * class costs about 9 KB of Metaspace: the whole suite went from 182
    * to 217 MB.
    */
  val CacheMaxEntries: Int = 8192

  /** `conf` itself when it sets the cache bound explicitly, else a copy
    * that sets it to [[CacheMaxEntries]].
    */
  def cacheConf(conf: SQLConf): SQLConf = {
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    if (conf.contains(key)) conf
    else {
      val c = conf.clone()
      c.setConfString(key, CacheMaxEntries.toString)
      c
    }
  }

  /** Initialize `CodeGenerator` under [[cacheConf]] of the active conf. */
  def sizeCodegenCache(): Unit =
    SQLConf.withExistingConf(cacheConf(SQLConf.get))(CodeGenerator.getClass)
}
