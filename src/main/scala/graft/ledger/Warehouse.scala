package graft.ledger

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.LedgerFunctions._
import graft.operators.{MergeIgnore, SurrogateKeys}

/** Entry point 2 (SURVEY §3.2): staging → star schema, in the
  * reference's dependency order (reference app/etl.py:136-149):
  * tipo→grupo→categoria→fato, tempo→fato, classificacao→fato.
  *
  * Dimensions are vocabulary-sized (a few tipos, grupos, categorias
  * and classificações, one row per month), so [[loadDims]] resolves all
  * five on the driver in one pass: one collect reads the batch's
  * vocabulary from staging (bounded by [[Warehouse.vocabularyCap]]),
  * the existing dimension keys come from the rows the catalog holds
  * for the commits it wrote ([[Catalog.rows]]), each merge-ignore delta
  * is computed in memory, and only a non-empty one is written, as one
  * commit of one file whose rows the catalog keeps.
  * Surrogate keys keep SERIAL semantics (SURVEY §1.3): dense, resumed
  * from the footer max id, numbered in key order under Spark's binary
  * UTF-8 string order. [[loadFato]] stays one DataFrame pipeline:
  * staging's ids looked up in the batch's driver-built maps, then
  * merge-ignore on `id_hash`.
  *
  * Documented divergence (SURVEY §1.4-2): `dim_tempo` merges on
  * (ano, mes) instead of blind-appending, so re-uploading a month cannot
  * create duplicate time rows. The reference's behavior is an
  * unconstrained artifact; final fact content is identical either way.
  *
  * Operational note: at month-upload cadence every loader appends one
  * commit per run, so live commit counts grow without bound — construct
  * the catalog with `compactEvery = 16` (one auto-fold roughly per
  * year of monthly uploads; see [[Catalog.compactEvery]]) so table
  * scans keep a bounded file-listing cost. The fold is atomic and
  * restores the fact's (id_tipo, id_grupo, id_categoria) clustering.
  *
  * `strictQuirks = true` reproduces the reference bit-for-bit for
  * byte-level migration testing: `dim_tempo` blind-appends (per-batch
  * dedup only, reference app/etl.py:26-39 — re-uploads create duplicate
  * (ano, mes) rows with fresh ids), and the fact keeps one row per
  * `id_hash` exactly like `ON CONFLICT DO NOTHING` (app/etl.py:129; the
  * reference winner is arbitrary — we pick min id_tempo so the state is
  * reproducible).
  */
object Warehouse {
  /** Batches at or under this many rows (from footer metadata) take the
    * single-window [[SurrogateKeys.assignBounded]] fact-id path; larger
    * ones take [[SurrogateKeys.assignScalable]]. A few million short
    * rows through one window task is well under a second — cheaper than
    * the three extra jobs the scalable path schedules. */
  val boundedIdBatchRows: Long = 4L * 1000 * 1000

  /** Batches at or under this many rows run in ONE partition end to
    * end: the vocabulary collect and the whole fact merge (lookup joins,
    * dedup, anti-join, id window, write) plan no exchange and run as one
    * job each, and the fact write skips the range repartition. For a
    * small batch every exchange's job costs more than the one task it
    * spares (OPTIMIZATION_r19.md §3).
    * The bound is much tighter than [[boundedIdBatchRows]] because the
    * single WRITER serializes parquet encoding + one directory per
    * month, where the id window only numbers rows: a 64k-row write is
    * ~0.1 s, but the same trade at ~1M rows measured 19 vs 15 s on the
    * whole q68 e2e at the 100× decade (single-task encode of 36 month
    * directories). */
  val singleTaskWriteRows: Long = 64L * 1024

  /** The most distinct values one dimension may take from a batch, and
    * the most rows an existing dimension may hold: [[Warehouse.loadDims]]
    * holds both on the driver. Dimensions stay within millions of
    * distinct values even at fact scale (see [[SurrogateKeys]]). A
    * `var` only so a spec can lower it. */
  @volatile private[graft] var vocabularyCap: Int = 1000 * 1000

  /** A dimension above [[vocabularyCap]]; raised before the load
    * writes anything. */
  final class VocabularyTooLarge(dimension: String, count: Long, cap: Int)
    extends IllegalStateException(
      s"$dimension holds $count distinct values or more, above the " +
        s"vocabulary cap of $cap; the load wrote nothing")

  /** What the dimension pass hands the fact: the rows appended to each
    * dimension, and the batch vocabulary's surrogate ids — (Tipo, Grupo,
    * Categoria) path → (id_tipo, id_grupo, id_categoria), Classificação
    * → id_classificacao and (ano, mes) → id_tempo. */
  private[graft] final case class Dims(appended: Map[String, Long], batchRows: Long,
                                       paths: Map[(String, String, String), (Int, Int, Int)],
                                       classificacoes: Map[String, Int],
                                       months: Map[(Int, Int), Int])

  /** The batch's distinct (Tipo, Grupo, Categoria) paths (a component
    * may be null), non-null Classificação values, and months by (ano,
    * mes) with their `dim_tempo` columns. */
  private final case class Vocabulary(paths: Seq[(String, String, String)],
                                      classificacoes: Seq[String],
                                      months: Map[(Int, Int), Seq[Any]])

  /** Every existing dimension key → its id. */
  private final case class Existing(tipo: Map[String, Int],
                                    grupo: Map[(Int, String), Int],
                                    categoria: Map[(Int, String), Int],
                                    tempo: Map[(Int, Int), Int],
                                    classificacao: Map[String, Int])

  /** The row layout of [[Warehouse.readKeys]]'s vocabulary. */
  private val keyLayout = StructType(Seq(
    "set" -> StringType,
    "name" -> StringType, "grupo" -> StringType, "categoria" -> StringType,
    "ano" -> IntegerType, "mes" -> IntegerType, "semana" -> IntegerType,
    "data_inicio" -> DateType, "data_fim" -> DateType
  ).map { case (n, t) => StructField(n, t) })

  /** [[keyLayout]]'s columns, the `given` ones set and the rest null. */
  private def keyRow(given: (String, Column)*): Seq[Column] = {
    val g = given.toMap
    keyLayout.map(f => g.getOrElse(f.name, lit(null)).cast(f.dataType).as(f.name))
  }

  /** Spark's string order (binary UTF-8), which `String.compareTo`
    * (UTF-16 code units) is not: ids must number keys the way the
    * DataFrame window did. */
  private val utf8: Ordering[String] = Ordering.fromLessThan((a, b) =>
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)

  private val keyed: Ordering[(Int, String)] = Ordering.Tuple2(Ordering.Int, utf8)
}

final class Warehouse(catalog: Catalog, strictQuirks: Boolean = false) {
  import Warehouse._

  private def staging: DataFrame = catalog.table("staging_lancamentos")

  /** `df` in one partition when the batch has at most
    * [[Warehouse.singleTaskWriteRows]] rows. */
  private def funnel(df: DataFrame, batchRows: Long): DataFrame =
    if (batchRows <= singleTaskWriteRows) df.coalesce(1) else df

  /** The five dimensions (reference app/etl.py:20-102) in one pass: the
    * batch vocabulary is collected and the existing keys are taken from
    * the catalog's rows ([[readKeys]]), each dimension's new keys get ids
    * in the reference's dependency order (tipo → grupo → categoria, then
    * tempo and classificação), and only the non-empty deltas are written,
    * through the catalog's held-rows append ([[Catalog.appendRows]]). A
    * Tipo, Grupo or Categoria that is null stops its path at the level
    * above it; ingest never stages one. */
  private[graft] def loadDims(): Dims = {
    // footer metadata, no job
    val batchRows = catalog.rowCount("staging_lancamentos")
    val (v, e) = readKeys(batchRows)
    val (tipo, newTipo) = merge("dim_tipo", v.paths.flatMap(p => Option(p._1)), e.tipo)(utf8)
    val (grupo, newGrupo) = merge("dim_grupo",
      v.paths.collect { case (t, g, _) if t != null && g != null => (tipo(t), g) },
      e.grupo)(keyed)
    val resolved = v.paths.collect {
      case (t, g, c) if t != null && g != null && c != null => (t, g, c, grupo((tipo(t), g)))
    }
    val (categoria, newCategoria) = merge("dim_categoria",
      resolved.map { case (_, _, c, gid) => (gid, c) }, e.categoria)(keyed)
    val (tempo, newTempo) = merge("dim_tempo", v.months.keys.toSeq, e.tempo, blind = strictQuirks)
    val (cls, newCls) = merge("dim_classificacao", v.classificacoes, e.classificacao)(utf8)
    val appended = Seq(
      "dim_tipo" -> newTipo.map { case (n, id) => Row(id, n) },
      "dim_grupo" -> newGrupo.map { case ((t, n), id) => Row(id, t, n) },
      "dim_categoria" -> newCategoria.map { case ((g, n), id) => Row(id, g, n) },
      "dim_tempo" -> newTempo.map { case (k, id) => Row.fromSeq(id +: v.months(k)) },
      "dim_classificacao" -> newCls.map { case (n, id) => Row(id, n) }
    ).map { case (t, rows) =>
      // one commit of one file, rows in id order, as the DataFrame
      // window wrote it; an empty delta runs no write job
      t -> (if (rows.isEmpty) 0L else catalog.appendRows(t, rows))
    }.toMap
    Dims(appended, batchRows,
      paths = resolved.map { case (t, g, c, gid) =>
        (t, g, c) -> (tipo(t), gid, categoria((gid, c))) }.toMap,
      classificacoes = v.classificacoes.map(c => c -> cls(c)).toMap,
      months = v.months.keys.map(k => k -> tempo(k)).toMap)
  }

  /** The batch's vocabulary, read in one collect of rows laid out as
    * [[keyLayout]]:
    *
    *  - `set` "path": a distinct (Tipo, Grupo, Categoria) in (`name`,
    *    `grupo`, `categoria`); a component may be null;
    *  - `set` "classificacao": a distinct Classificação in `name`;
    *  - `set` "month": a distinct (`ano`, `mes`) with its `dim_tempo`
    *    columns;
    *
    * and every existing dimension key, from [[Catalog.rows]]: no read
    * for the commits this warehouse's catalog wrote, one collect per
    * dimension that has others.
    *
    * The vocabulary explodes each staging row into one row per set with
    * the other sets' columns null, so one distinct yields each set on
    * its own, never their product. A batch of at most
    * [[Warehouse.singleTaskWriteRows]] rows is funneled into one
    * partition after the explode, so the distinct plans no exchange and
    * the whole read is one job. The vocabulary's limit is a pigeonhole
    * bound: three sets of at most `cap` rows fit in `3 * cap`, so a
    * result of `3 * cap + 1` rows has a set above the cap, and every set
    * of a smaller result is complete. Each stored dimension is bounded
    * by its footer row count before any read. A blind-appended
    * `dim_tempo` key maps to its min id. */
  private def readKeys(batchRows: Long): (Vocabulary, Existing) = {
    val cap = vocabularyCap
    Seq("dim_tipo", "dim_grupo", "dim_categoria", "dim_tempo", "dim_classificacao").foreach { t =>
      val n = catalog.rowCount(t)
      if (n > cap) throw new VocabularyTooLarge(t, n, cap)
    }
    val set = col("set")
    val d = col("d")
    def in(s: String, c: Column): Column = when(set === s, c)
    val vocabulary = staging
      .select(col("Tipo"), col("Grupo"), col("Categoria"), col("Classificação"),
        parseMonth(col("Data")).as("d"),
        explode(array(lit("path"), lit("classificacao"), lit("month"))).as("set"))
      .select(keyRow(
        "set" -> set,
        "name" -> coalesce(in("path", col("Tipo")), in("classificacao", col("Classificação"))),
        "grupo" -> in("path", col("Grupo")),
        "categoria" -> in("path", col("Categoria")),
        "ano" -> in("month", yearOf(d)), "mes" -> in("month", monthOf(d)),
        "semana" -> in("month", isoWeek(d)), "data_inicio" -> in("month", monthStart(d)),
        "data_fim" -> in("month", monthEnd(d))): _*)
      // a set keeps the rows whose leading key is non-null: a row with
      // no Tipo yields no dimension, a Data that does not parse no month
      .filter(col("name").isNotNull || col("ano").isNotNull)
    val sets = funnel(vocabulary, batchRows).distinct().limit(3 * cap + 1)
      .collect()
      .groupBy(_.getString(0))
    def vocab(s: String, dimension: String): Seq[Row] = {
      val r = sets.getOrElse(s, Array.empty[Row]).toSeq
      if (r.size > cap) throw new VocabularyTooLarge(dimension, r.size, cap)
      r
    }
    // a stored row is its id, then its key
    def ids[K](t: String)(key: Row => K): Map[K, Int] =
      catalog.rows(t).groupMapReduce(key)(_.getInt(0))(math.min)
    (Vocabulary(
      vocab("path", "dim_categoria").map(r => (r.getString(1), r.getString(2), r.getString(3))),
      vocab("classificacao", "dim_classificacao").map(_.getString(1)),
      vocab("month", "dim_tempo").map(r => (r.getInt(4), r.getInt(5)) -> r.toSeq.drop(4)).toMap),
      Existing(
        ids("dim_tipo")(_.getString(1)),
        ids("dim_grupo")(r => (r.getInt(1), r.getString(2))),
        ids("dim_categoria")(r => (r.getInt(1), r.getString(2))),
        ids("dim_tempo")(r => (r.getInt(1), r.getInt(2))),
        ids("dim_classificacao")(_.getString(1))))
  }

  /** Merge-ignore on the driver: the batch keys `existing` lacks (all of
    * them, for a blind append) get dense ids in key order, continuing
    * from the table's footer max id. Returns every key's id — an
    * existing id wins, so a blind-appended key keeps its min id — and
    * the new keys with their ids, in id order. */
  private def merge[K](table: String, batch: Seq[K], existing: Map[K, Int],
                       blind: Boolean = false)(implicit order: Ordering[K])
      : (Map[K, Int], Seq[(K, Int)]) = {
    val fresh = batch.distinct.filter(k => blind || !existing.contains(k)).sorted
    val offset = catalog.maxId(table, Schemas.schemaOf(table).head.name)
    val added = fresh.zipWithIndex.map { case (k, i) => k -> Math.toIntExact(offset + i + 1) }
    (added.toMap ++ existing, added)
  }

  /** fato_lancamento (reference app/etl.py:105-133): each staging row's
    * ids looked up in the batch's maps, then merge-ignore on id_hash
    * against the existing fact, pruned to the (ano, mes) partitions
    * present in the batch. A row whose path, Classificação or month has
    * no id is dropped, as an inner join drops it. Under `strictQuirks`
    * the month map already holds the min id_tempo of a duplicated month.
    *
    * The maps are literals in the plan (`element_at` over a map sized
    * by the batch vocabulary), so no lookup is scanned or broadcast;
    * the existing side is small, so Catalyst broadcasts it. A lookup
    * compares the row's key with the map's keys one by one, so the cost
    * grows with rows × paths: trivial at ledger vocabularies (tens of
    * paths), but it overtakes a hash join at about a thousand. A batch of
    * at most [[Warehouse.singleTaskWriteRows]] rows streams through in
    * one partition, so the dedup, the anti-join and the id window plan
    * no shuffle and the write is the merge's only other job.
    */
  private[graft] def loadFato(dims: Dims): Long = {
    val batchRows = dims.batchRows
    val sl = funnel(staging, batchRows).withColumn("__d", parseMonth(col("Data")))
      .withColumn("ano", yearOf(col("__d")).cast("int"))
      .withColumn("mes", monthOf(col("__d")).cast("int"))
    // tuple-keyed maps take struct keys with the tuple's field names
    def key(cs: String*): Column =
      struct(cs.zipWithIndex.map { case (c, i) => col(c).as(s"_${i + 1}") }: _*)
    val path = element_at(typedLit(dims.paths), key("Tipo", "Grupo", "Categoria"))
    val cls = element_at(typedLit(dims.classificacoes), col("Classificação"))
    val month = element_at(typedLit(dims.months), key("ano", "mes"))
    val candidates = sl
      .filter(path.isNotNull && cls.isNotNull && month.isNotNull)
      .select(
        path("_1").as("id_tipo"), path("_2").as("id_grupo"), path("_3").as("id_categoria"),
        month.as("id_tempo"), cls.as("id_classificacao"),
        col("Descrição").as("descricao"),
        col("Valor").as("valor"),
        col("id_hash"),
        col("ano"), col("mes"))

    val offset = catalog.maxId("fato_lancamento", "id_lancamento")
    val existing =
      if (!catalog.exists("fato_lancamento")) null
      else existingFactForMerge(dims.months.keys.toSeq)
    val delta = MergeIgnore.newRows(candidates, existing, Seq("id_hash"))
    // Size-aware id assignment (AQE-style, decided from table-format
    // FOOTER row counts — metadata only, no extra job): the delta is at
    // most the staged batch, so a bounded batch (the month-upload
    // cadence this pipeline serves) takes the one-job single-window
    // path; anything larger — a backfill, a migration — pays
    // assignScalable's two-pass scheme and keeps every task bounded.
    val assigned =
      if (batchRows <= Warehouse.boundedIdBatchRows)
        SurrogateKeys.assignBounded(delta, "id_lancamento", Seq("id_hash"), offset)
      else
        SurrogateKeys.assignScalable(delta, "id_lancamento", Seq("id_hash"), offset)
    val keyed = assigned
      .select(Schemas.fatoLancamento.fieldNames.map(col): _*)
    // Cluster rows by the dimension hierarchy inside each written file:
    // parquet row-group min/max stats then prune category-filtered BI
    // scans, on top of the (ano, mes) directory pruning. appendDelta
    // sorts each write task's rows by partitionBy ++ clusterBy, so the
    // sort leads with the partition columns (otherwise the writer
    // stacks its own sort on top, destroying the clustering). The range
    // repartition leads with them too, so each task owns a CONTIGUOUS
    // (ano, mes) span: the partitioned writer opens ~1 directory per
    // task in parallel instead of one task grinding through every
    // month serially (the bounded-id path funnels through one window
    // task) or every task touching every month (tasks × months tiny
    // files — the small-files antipattern at scale). Big months split
    // across tasks by the range boundaries.
    //
    // On the SMALL-BATCH path (≤ singleTaskWriteRows; q68's cost is
    // mostly fixed job scheduling over a tiny batch, and this stage
    // paid three jobs — OPTIMIZATION_r19.md §3): the delta just came
    // out of assignBounded's GLOBAL
    // id_hash window, i.e. it sits in ONE partition — a partition-local
    // sort leading with the write-partition columns is already a TOTAL
    // sort, so the single write task hands the partitioned writer
    // strictly contiguous (ano, mes) spans and the same row-group
    // clustering the range shuffle produced. That drops the
    // repartitionByRange (whose boundary SAMPLING re-executed the whole
    // fact plan — the lookup joins, the anti-join, the id window —
    // and forced a persist to avoid paying it twice), the persist, and
    // the extra shuffle: one job instead of three, identical rows and
    // ids. Single-task write of a ≤ boundedIdBatchRows batch is the
    // same trade assignBounded itself already makes.
    //
    // The SCALABLE path (backfills, migrations) keeps the range
    // repartition: there the delta is fact-scale, the id assignment is
    // already parallel, and each task must own a contiguous (ano, mes)
    // span so the partitioned writer opens ~1 directory per task
    // instead of tasks × months tiny files. It must NOT pin a
    // table-sized delta in executor memory, so it keeps the recompute.
    if (batchRows <= Warehouse.singleTaskWriteRows)
      catalog.appendDelta("fato_lancamento", keyed,
        partitionBy = Seq("ano", "mes"),
        clusterBy = Seq("id_tipo", "id_grupo", "id_categoria"))
    else {
      // mid-size bounded batches (single-window ids, parallel write)
      // still persist across the boundary sample + write double
      // execution; the UNBOUNDED scalable path must not pin a
      // table-sized delta in executor memory and keeps the recompute
      // (assignScalable is parallel there).
      val cached =
        if (batchRows <= Warehouse.boundedIdBatchRows)
          keyed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else keyed
      try {
        val clustered = cached
          .repartitionByRange(col("ano"), col("mes"),
            col("id_tipo"), col("id_grupo"), col("id_categoria"))
        catalog.appendDelta("fato_lancamento", clustered,
          partitionBy = Seq("ano", "mes"),
          clusterBy = Seq("id_tipo", "id_grupo", "id_categoria"))
      } finally if (cached ne keyed) cached.unpersist(blocking = false)
    }
  }

  /** The existing-fact side of the id_hash anti-join, restricted to the
    * batch's (ano, mes) months. id_hash embeds the trimmed Data field,
    * so equal hashes imply equal months — the restriction is
    * semantics-preserving, and because (ano, mes) are the fact's write
    * partitions, the existing side becomes a statically
    * partition-pruned scan: a month re-upload reads one month of
    * hashes, not the whole fact (plan shape pinned in PlanSpec). */
  private[graft] def existingFactForMerge(batchMonths: Seq[(Int, Int)]): DataFrame = {
    val pred = batchMonths.map { case (a, m) =>
      col("ano") === a && col("mes") === m
    }.reduceOption(_ || _).getOrElse(lit(false))
    catalog.table("fato_lancamento").filter(pred)
  }

  /** The full build, sequentially: [[loadDims]], then [[loadFato]],
    * inside one [[Catalog.transaction]], so other catalog instances see
    * either the previous warehouse state or the complete new one, never
    * dims-without-fact. Returns per-table appended row counts. */
  def run(): Map[String, Long] = catalog.transaction {
    val dims = loadDims()
    val fato = loadFato(dims)
    catalog.registerAll()
    dims.appended + ("fato_lancamento" -> fato)
  }
}
