package graft

import org.apache.spark.sql.SparkSession

package object queries {

  /** Build-once-per-dataset-dir state for the graded queries: a trained
    * model, a saved artifact or a served layout is built on the first
    * call for a dataset dir and returned as is to every later call in the
    * JVM (an index is built once and served for many queries; rebuilding
    * it per query would benchmark index construction, not the query).
    * Assumes the dataset dir is IMMUTABLE while the session lives (the
    * driver's one-JVM-per-workdir shape): regenerating the parquet under
    * a live JVM serves stale state, so restart the session after
    * rewriting a dataset.
    *
    * Concurrent callers for one dir wait for a single build; a build that
    * throws records nothing, so the next call builds again. Every memo
    * owns its map: builds nest (a layout build calls the model memo), and
    * a nested `computeIfAbsent` on the SAME `ConcurrentHashMap` throws
    * `IllegalStateException: Recursive update`. */
  private[graft] def oncePerDataset[T](
      build: (SparkSession, String) => T): (SparkSession, String) => T = {
    val built = new java.util.concurrent.ConcurrentHashMap[String, T]()
    (s, d) => built.computeIfAbsent(d, _ => build(s, d))
  }
}
