package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}

/** The one way an operator runs under confs that differ from its
  * caller's: on a clone of the caller's session, never by setting and
  * restoring the caller's conf, which concurrent queries would plan
  * under. A clone keeps the caller's confs and shares its SparkContext,
  * cache and block managers (persisted frames and local checkpoints stay
  * visible). `cloneSession` and `Dataset.ofRows` are `private[sql]`.
  */
object Sessions {

  /** The last clone and the session it came from. Each clone is its own
    * artifact session, whose generated classes the executors compile and
    * JIT-warm anew (measured: a clone per call added ~0.5 s to each
    * connected-components query), so [[scoped]] reuses it.
    */
  private var last: Option[(SparkSession, SparkSession)] = None

  /** A clone of `s` with `confs` set on it; `s` is unchanged. The last
    * clone serves while it came from `s` and holds `s`'s conf plus `confs`.
    */
  def scoped(s: SparkSession, confs: Map[String, String]): SparkSession = synchronized {
    val want = s.conf.getAll ++ confs
    last.collect { case (caller, clone) if (caller eq s) && clone.conf.getAll == want => clone }
      .getOrElse {
        val clone = castToImpl(s).cloneSession()
        confs.foreach { case (k, v) => clone.conf.set(k, v) }
        last = Some(s -> clone)
        clone
      }
  }

  /** `df`'s plan as a frame of `session`, planned under its conf. */
  def rebind(df: DataFrame, session: SparkSession): DataFrame =
    ClassicDataset.ofRows(castToImpl(session), castToImpl(df).logicalPlan)
}
