package graft

/** Session-conf hygiene: given a `Graft.tune`d session, building ANY
  * registered query must leave session conf exactly as it found it —
  * queries that need special confs either get them from tune (bucketed
  * scan ordering, nanos-as-long) or run that part on a scoped clone of
  * the session (`org.apache.spark.sql.graft.Sessions`: the
  * connected-components loop, the encrypted stream sink). A query
  * silently flipping a session flag poisons every later query in the
  * same session (as q35 once did).
  */
class ConfHygieneSpec extends SparkTestBase {

  test("no registered query mutates session conf while building") {
    val before = spark.conf.getAll
    Registry.all.foreach { q =>
      q.fn(spark, sfDir): Unit // build the (lazy) plan; eager setup runs here
      val after = spark.conf.getAll
      val added = after.keySet -- before.keySet
      val removed = before.keySet -- after.keySet
      val changed = before.keySet.intersect(after.keySet)
        .filter(k => before(k) != after(k))
      assert(added.isEmpty && removed.isEmpty && changed.isEmpty,
        s"${q.name} mutated session conf: added=$added removed=$removed changed=" +
          changed.map(k => s"$k: ${before(k)} -> ${after(k)}").mkString(", "))
    }
  }
}
