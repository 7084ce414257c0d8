package graft.storage

import GraftCatalog.{ColStat, b64d, b64e}

/** One snapshot of a table, as its manifest records it — Iceberg's
  * snapshot metadata in miniature. A main commit is `_snap-<n>.manifest`
  * and a branch commit `_bsnap-<b>-<n>.manifest` (the table log in
  * [[GraftCatalog]] names, reads and creates them); both are UTF-8 lines,
  * `# ` header lines first, then the table-relative data files:
  *
  *  - `# kind:<k>` — the commit kind ([[GraftCatalog.CommitKinds]]); only
  *    main commits carry one, and snapshots written before kinds existed
  *    read as `None`;
  *  - `# stats:<file>=<col>|<kind>|<nulls>|<min>|<max>;...` — per-file
  *    column stats ([[GraftCatalog.ColStat]]), computed once from the
  *    file's parquet footer and carried while the file stays live;
  *  - `# add:<file>=<snap>` — the snapshot a file joined main's lineage,
  *    which scopes equality deletes (Iceberg's sequence-number rule);
  *  - `# eqdel:<sidecar>=<snap>` and `# posdel:<sidecar>:<target>=<snap>`
  *    — pending merge-on-read delete sidecars and their commit snapshots;
  *    a position delete has one entry per target file, so it is carried
  *    exactly as long as its target stays live, without opening the sidecar;
  *  - `# txn:<appId>=<version>` — writer-transaction watermarks, committed
  *    in the same file as the data they guard.
  *
  * File, column and sidecar names and stat bounds are unpadded base64, so
  * `=`, `|`, `:` and `;` stay free as separators. */
final case class Manifest(
    kind: Option[String],
    files: Seq[String],
    stats: Map[String, Map[String, ColStat]],
    addSeq: Map[String, Long],
    eqDels: Seq[(String, Long)],
    posDels: Seq[(String, String, Long)],
    txns: Map[String, Long]) {

  import Manifest._

  /** The manifest's lines: each header section sorted, then the sorted
    * files. A file's stats line is written only while it has columns. */
  def render: Seq[String] =
    kind.map(k => s"$KindH$k").toSeq ++
      files.sorted.flatMap(f => stats.get(f).filter(_.nonEmpty).map { cols =>
        s"$StatsH${b64e(f)}=" + cols.toSeq.sortBy(_._1).map { case (c, st) =>
          s"${b64e(c)}|${st.kind}|${st.nulls}|${b64e(st.min)}|${b64e(st.max)}"
        }.mkString(";")
      }) ++
      addSeq.toSeq.sorted.map { case (f, s) => s"$AddH${b64e(f)}=$s" } ++
      eqDels.sorted.map { case (f, s) => s"$EqDelH${b64e(f)}=$s" } ++
      posDels.sorted.map { case (sc, t, s) => s"$PosDelH${b64e(sc)}:${b64e(t)}=$s" } ++
      txns.toSeq.sorted.map { case (app, v) => s"$TxnH$app=$v" } ++
      files.sorted
}

object Manifest {

  private val KindH = "# kind:"
  private val StatsH = "# stats:"
  private val AddH = "# add:"
  private val EqDelH = "# eqdel:"
  private val PosDelH = "# posdel:"
  private val TxnH = "# txn:"

  val empty: Manifest =
    Manifest(None, Seq.empty, Map.empty, Map.empty, Seq.empty, Seq.empty, Map.empty)

  /** One pass over a manifest's lines. Lenient: blank and malformed
    * header lines are skipped (a stats column, add, eqdel or posdel
    * entry with a field that is not base64 is malformed), a stats entry
    * with no well-formed column is dropped, and only the first `# kind:`
    * line counts, read as `None` unless it names one of
    * [[GraftCatalog.CommitKinds]]. A repeated file key keeps its last
    * entry. */
  def parse(lines: Seq[String]): Manifest = {
    var kind = Option.empty[String]
    var sawKind = false
    val files = Seq.newBuilder[String]
    val stats = Map.newBuilder[String, Map[String, ColStat]]
    val adds = Map.newBuilder[String, Long]
    val eqDels = Seq.newBuilder[(String, Long)]
    val posDels = Seq.newBuilder[(String, String, Long)]
    val txns = Map.newBuilder[String, Long]
    // `<key>=<long>` bodies; None when the separator or the number is bad
    def entry(body: String): Option[(String, Long)] = body.split("=", 2) match {
      case Array(k, v) => v.toLongOption.map(k -> _)
      case _ => None
    }
    def dec(field: String): Option[String] =
      try Some(b64d(field)) catch { case _: IllegalArgumentException => None }
    lines.iterator.map(_.trim).filter(_.nonEmpty).foreach { l =>
      if (!l.startsWith("#")) files += l
      else if (l.startsWith(KindH)) {
        if (!sawKind) kind = Some(l.stripPrefix(KindH).trim).filter(GraftCatalog.CommitKinds.contains)
        sawKind = true
      } else if (l.startsWith(StatsH)) l.stripPrefix(StatsH).split("=", 2) match {
        case Array(f, body) =>
          val cols = body.split(";").toSeq.flatMap { e =>
            e.split("\\|", 5) match {
              case Array(c, k, n, mn, mx) =>
                for (nl <- n.toLongOption; cd <- dec(c); lo <- dec(mn); hi <- dec(mx))
                  yield cd -> ColStat(k, nl, lo, hi)
              case _ => None
            }
          }.toMap
          if (cols.nonEmpty) dec(f).foreach(stats += _ -> cols)
        case _ =>
      }
      else if (l.startsWith(AddH))
        entry(l.stripPrefix(AddH)).foreach { case (f, s) => dec(f).foreach(adds += _ -> s) }
      else if (l.startsWith(EqDelH))
        entry(l.stripPrefix(EqDelH)).foreach { case (f, s) => dec(f).foreach(eqDels += _ -> s) }
      else if (l.startsWith(PosDelH))
        entry(l.stripPrefix(PosDelH)).foreach { case (st, s) =>
          st.split(":", 2) match {
            case Array(sc, t) => for (scd <- dec(sc); td <- dec(t)) posDels += ((scd, td, s))
            case _ =>
          }
        }
      else if (l.startsWith(TxnH))
        entry(l.stripPrefix(TxnH)).foreach(txns += _)
    }
    Manifest(kind, files.result(), stats.result(), adds.result(),
      eqDels.result(), posDels.result(), txns.result())
  }
}
