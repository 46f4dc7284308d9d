package perfbench

/** The seeded operation plan `run.py` generates, one directive a line:
  *
  *   job <id> <load-date>              etl_job: one job per unit
  *   slice <rows> / relay_every <n>    manifest_ingest settings
  *   cycle                             manifest_ingest: a new unit
  *   append <v> <first-id> <rows>      commit rows of new keys at version v
  *   upsert <v> <id,id,...>            commit new versions of keys
  *   delete <v> <id,id,...>            delete keys
  */
final case class Plan(jobs: IndexedSeq[(String, String)],
                      sliceRows: Long, relayEvery: Int,
                      cycles: IndexedSeq[Seq[Plan.Op]])

object Plan {
  final case class Op(kind: String, v: Long, lo: Long = 0L, n: Long = 0L,
                      keys: Seq[Long] = Nil)

  def parse(lines: Iterator[String]): Plan = {
    val jobs = IndexedSeq.newBuilder[(String, String)]
    val cycles = scala.collection.mutable.ArrayBuffer.empty[
      scala.collection.mutable.ArrayBuffer[Op]]
    var slice = 0L
    var relayEvery = 1
    def ids(s: String): Seq[Long] = s.split(',').toSeq.map(_.toLong)
    lines.map(_.trim).filter(_.nonEmpty).foreach { l =>
      l.split(' ') match {
        case Array("job", id, date) => jobs += id -> date
        case Array("slice", n) => slice = n.toLong
        case Array("relay_every", n) => relayEvery = n.toInt
        case Array("cycle") => cycles += scala.collection.mutable.ArrayBuffer()
        case Array("append", v, lo, n) =>
          cycles.last += Op("append", v.toLong, lo.toLong, n.toLong)
        case Array(k @ ("upsert" | "delete"), v, ks) =>
          cycles.last += Op(k, v.toLong, keys = ids(ks))
        case _ => throw new IllegalArgumentException(s"bad plan line: $l")
      }
    }
    Plan(jobs.result(), slice, relayEvery,
      cycles.map(_.toSeq).toIndexedSeq)
  }
}
