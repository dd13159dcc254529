package graft

package object tools {
  /** `SPARK_GRAFT_CONF` experiment confs: comma-separated `key=value`
    * entries. A malformed entry fails with a message naming it. */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(',').toSeq.filter(_.trim.nonEmpty).map(kv => kv.split("=", 2) match {
      case Array(k, v) if k.trim.nonEmpty => (k.trim, v)
      case _ => throw new IllegalArgumentException(s"malformed SPARK_GRAFT_CONF entry '$kv': expected key=value")
    })
}
