package servebench

import scala.util.Random

/** Everything the seed decides: each client's request order (which
  * dashboard, which dropdown or JWT variable value) and the ingest
  * payloads. The program only ever sees what these produce. */
object Plan {

  /** Client `c`'s request sequence, endless: each cycle visits every
    * group (a dashboard) once, in a seeded order, with a seeded variant
    * (its variable value), so any run sees a balanced mix of dashboards.
    * `phase` separates the warm-up streams from the measured one. */
  def requests[A](seed: Long, phase: Int, c: Int, groups: IndexedSeq[IndexedSeq[A]]): Iterator[A] = {
    val rng = new Random(seed * 1000003L + phase * 1009L + c)
    Iterator.continually(rng.shuffle(groups).map(g => g(rng.nextInt(g.length)))).flatten
  }

  val Kinds = Seq("alpha", "beta", "delta", "gamma", "kappa", "omega")
  val EventsPerBatch = 20

  /** Batches (of `total`) from which a new field appears in every
    * event, so the server must `ALTER TABLE ADD COLUMNS`. */
  def newFields(total: Int): Seq[(Int, String, String)] = Seq(
    (total / 4, "region", "\"r%d\""),
    (total / 2, "flag", "%b"),
    (3 * total / 4, "score", "%d.5"))

  /** Ingest batch `b` of `total`: a JSON array of events with explicit
    * `_id`s, returned with those ids. */
  def batch(seed: Long, b: Int, total: Int): (String, Seq[String]) = {
    val evs = events(seed, b, total)
    (evs.map(_._1).mkString("[", ",", "]"), evs.map(_._2))
  }

  /** Batch `b`'s events, each as JSON with its `_id`. */
  def events(seed: Long, b: Int, total: Int): Seq[(String, String)] = {
    val rng = new Random(seed * 7919L + b)
    val extra = newFields(total).filter(_._1 <= b)
    (0 until EventsPerBatch).map { i =>
      val id = s"s$seed-b$b-e$i"
      val fields = Seq(
        "\"_id\":" + Json.str(id),
        "\"kind\":" + Json.str(Kinds(rng.nextInt(Kinds.length))),
        "\"amount\":" + java.math.BigDecimal.valueOf(rng.nextInt(100000).toLong, 2).toPlainString,
        s"\"user\":${rng.nextInt(1000)}",
        s"\"batch\":$b",
        "\"at\":" + Json.str(java.time.Instant.ofEpochSecond(
          1704067200L + rng.nextInt(86400 * 30)).toString)) ++
        extra.map { case (_, name, fmt) =>
          val v = name match {
            case "flag" => fmt.format(rng.nextBoolean())
            case _ => fmt.format(rng.nextInt(100))
          }
          "\"" + name + "\":" + v
        }
      (fields.mkString("{", ",", "}"), id)
    }
  }
}
