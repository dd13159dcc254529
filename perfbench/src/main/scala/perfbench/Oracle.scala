package perfbench

import scala.collection.mutable

/** The benchmark's own delivery oracle. It restates the reference's
  * subject rules (utils.rs:16-42) independently of `graft.core.Subjects`,
  * so a bug there cannot hide behind a matching bug here:
  *
  *  - a subject is `UPDATES.STORAGE` followed by `._.<id>` per level,
  *    with `._.OBJECT` or `._.OBJECTGROUP` inserted before the third id;
  *  - a publish subject ends in `._`;
  *  - a filter ending in `._` matches exactly that subject, a filter
  *    ending in `.>` matches every subject one or more tokens below its
  *    base, which includes the resource's own publish subject.
  *
  * Fan-out follows natsio.rs:78-129: a project or collection event
  * publishes one subject, an object-group event one per group it is
  * listed in, and an object event one per group plus its own. */
object Oracle {
  private def base(ids: Seq[String], objectGroup: Boolean): String = {
    val sb = new StringBuilder("UPDATES.STORAGE")
    ids.zipWithIndex.foreach { case (id, level) =>
      if (level == 2) sb.append("._.").append(if (objectGroup) "OBJECTGROUP" else "OBJECT")
      sb.append("._.").append(id)
    }
    sb.toString
  }

  /** A synthetic event: the fields the wire `Emit` carries. */
  final case class Ev(resource: String, eventType: String, resourceId: String,
                      project: String, collection: String = "",
                      sharedObject: String = "", objectGroups: Seq[String] = Seq.empty) {
    def subjects: Seq[String] = resource match {
      case "PROJECT" => Seq(base(Seq(resourceId), objectGroup = false) + "._")
      case "COLLECTION" => Seq(base(Seq(project, resourceId), objectGroup = false) + "._")
      case "OBJECTGROUP" => groupSubjects
      case "OBJECT" =>
        groupSubjects :+ (base(Seq(project, collection, sharedObject, resourceId),
          objectGroup = false) + "._")
      case _ => Seq.empty
    }
    private def groupSubjects: Seq[String] =
      objectGroups.map(g => base(Seq(project, collection, g, resourceId), objectGroup = true) + "._")
  }

  /** A stream group as the benchmark registers it: the ancestor chain
    * ids per hierarchy (project, collection, shared id), and the type. */
  final case class Group(id: String, resourceType: String, resourceId: String,
                         hierarchies: Seq[Seq[String]], subtree: Boolean,
                         eventType: String = "ALL") {
    /** One filter per hierarchy, built from the ids alone. */
    val filters: Seq[String] = hierarchies.map { h =>
      val ids = resourceType match {
        case "PROJECT" => Seq(resourceId)
        case "COLLECTION" => Seq(h.head, resourceId)
        case "OBJECTGROUP" | "OBJECT" if subtree => h.take(3)
        case _ => h.take(3) :+ resourceId
      }
      base(ids, resourceType == "OBJECTGROUP") + (if (subtree) ".>" else "._")
    }.distinct
    def matches(subject: String, evType: String): Boolean =
      (eventType == "ALL" || eventType == evType) && filters.exists { f =>
        if (f.endsWith(".>")) subject.startsWith(f.dropRight(1)) else subject == f
      }
  }

  /** Expected deliveries per group, keyed by subject, as FIFOs of event
    * indices in emission order. The engine delivers one group's rows in
    * emission order, so the n-th row a group receives for a subject
    * carries the n-th event published on it. */
  final class Expected(val groups: IndexedSeq[Group]) {
    private val fifos = Array.fill(groups.size)(mutable.HashMap.empty[String, mutable.Queue[Int]])
    private var total = 0L
    def expectedTotal: Long = total

    /** Registers event `idx` (call in emission order, before it is
      * emitted); returns how many deliveries it should produce. */
    def add(idx: Int, ev: Ev): Int = {
      var n = 0
      // a multi-filter group delivers one published message once, even
      // when two of its filters match it
      for (s <- ev.subjects; g <- groups.indices if groups(g).matches(s, ev.eventType)) {
        fifos(g).synchronized(fifos(g).getOrElseUpdate(s, mutable.Queue.empty[Int]).enqueue(idx))
        n += 1
      }
      total += n
      n
    }

    /** The event a received row of group `g` carries, or -1 for a row the
      * group should never have received. */
    def take(g: Int, subject: String): Int = fifos(g).synchronized {
      fifos(g).get(subject) match {
        case Some(q) =>
          val ev = q.dequeue()
          if (q.isEmpty) fifos(g).remove(subject)
          ev
        case None => -1
      }
    }
  }
}
