package graft.ledger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.LedgerFunctions._
import graft.operators.{MergeIgnore, SurrogateKeys}

/** Entry point 2 (SURVEY §3.2): staging → star schema. Six loaders over
  * `staging_lancamentos`, each ending in a merge-ignore write, sequenced
  * by the reference's dependency DAG (reference app/etl.py:136-149):
  * tipo→grupo→categoria→fato, tempo→fato, classificacao→fato.
  *
  * Spark-first shape: every loader is one declarative DataFrame pipeline
  * — Catalyst broadcasts the dim joins (dims are tiny), hash-aggregates
  * the DISTINCTs, and whole-stage-codegens the scalar work. Surrogate
  * keys replace SERIAL via row_number + max-offset (SURVEY §1.3).
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
  * (ano, mes) rows with fresh ids), and the fact load collapses the
  * resulting join multiples to one row per `id_hash` exactly like
  * `ON CONFLICT DO NOTHING` (app/etl.py:129; the reference winner is
  * arbitrary — we pick min id_tempo so the state is reproducible).
  */
object Warehouse {
  /** Batches at or under this many rows (from footer metadata) take the
    * single-window [[SurrogateKeys.assignBounded]] fact-id path; larger
    * ones take [[SurrogateKeys.assignScalable]]. A few million short
    * rows through one window task is well under a second — cheaper than
    * the three extra jobs the scalable path schedules. */
  val boundedIdBatchRows: Long = 4L * 1000 * 1000

  /** Batches at or under this many rows ALSO skip the fact write's
    * range repartition and write straight from the id window's single
    * partition: for a small delta the boundary-sampling job + the range
    * exchange cost more than one writer task (OPTIMIZATION_r19.md §3).
    * The bound is much tighter than [[boundedIdBatchRows]] because the
    * single WRITER serializes parquet encoding + one directory per
    * month, where the id window only numbers rows: a 64k-row write is
    * ~0.1 s, but the same trade at ~1M rows measured 19 vs 15 s on the
    * whole q68 e2e at the 100× decade (single-task encode of 36 month
    * directories). */
  val singleTaskWriteRows: Long = 64L * 1024
}

final class Warehouse(catalog: Catalog, strictQuirks: Boolean = false) {

  private def staging: DataFrame = catalog.table("staging_lancamentos")

  /** dim_tempo (reference app/etl.py:20-40). */
  def loadDimTempo(): Long = {
    // no pre-dedup on the raw `Data` string: the (ano, mes)
    // dropDuplicates below is the semantic dedup and its partial
    // aggregation already collapses repeats map-side; a string dedup
    // would be a SECOND full exchange per run whose only effect is
    // running parseMonth on fewer rows (OPTIMIZATION_r19.md §3).
    val months = staging
      .select(col("Data")).na.drop()
      .select(parseMonth(col("Data")).as("d")).na.drop()
      .select(
        yearOf(col("d")).cast("int").as("ano"),
        monthOf(col("d")).cast("int").as("mes"),
        isoWeek(col("d")).cast("int").as("semana"),
        monthStart(col("d")).as("data_inicio"),
        monthEnd(col("d")).as("data_fim"))
      .dropDuplicates("ano", "mes")
    if (strictQuirks) {
      // SURVEY §1.4-2 parity: pandas-append semantics — no merge on
      // (ano, mes), so a re-uploaded month gets a second identical row
      val offset = catalog.maxId("dim_tempo", "id_tempo")
      val keyed = SurrogateKeys.assign(months, "id_tempo", Seq("ano", "mes"), offset)
        .select(Schemas.dimTempo.fieldNames.map(col): _*)
      catalog.appendDelta("dim_tempo", keyed)
    } else
      mergeDim("dim_tempo", months, Seq("ano", "mes"), "id_tempo",
        orderBy = Seq("ano", "mes"))
  }

  /** dim_tipo (reference app/etl.py:43-55). */
  def loadDimTipo(): Long =
    mergeDim("dim_tipo",
      staging.select(col("Tipo").as("nome_tipo")).na.drop().distinct(),
      Seq("nome_tipo"), "id_tipo", orderBy = Seq("nome_tipo"))

  /** dim_classificacao (reference app/etl.py:57-70). */
  def loadDimClassificacao(): Long =
    mergeDim("dim_classificacao",
      staging.select(col("Classificação").as("nome_classificacao"))
        .filter(col("nome_classificacao").isNotNull).distinct(),
      Seq("nome_classificacao"), "id_classificacao",
      orderBy = Seq("nome_classificacao"))

  /** dim_grupo (reference app/etl.py:72-85): grupo values resolved to
    * their parent tipo's surrogate key. */
  def loadDimGrupo(): Long = {
    val dt = broadcast(catalog.table("dim_tipo"))
    val sl = staging
    val rows = sl
      .join(dt, sl("Tipo") === dt("nome_tipo"))
      .select(col("id_tipo"), col("Grupo").as("nome_grupo"))
      .distinct()
    mergeDim("dim_grupo", rows, Seq("id_tipo", "nome_grupo"), "id_grupo",
      orderBy = Seq("id_tipo", "nome_grupo"))
  }

  /** dim_categoria (reference app/etl.py:88-102). */
  def loadDimCategoria(): Long = {
    val dt = broadcast(catalog.table("dim_tipo"))
    val dg = broadcast(catalog.table("dim_grupo"))
    val sl = staging
    val rows = sl
      .join(dt, sl("Tipo") === dt("nome_tipo"))
      .join(dg, dg("nome_grupo") === sl("Grupo") && dg("id_tipo") === dt("id_tipo"))
      .select(col("id_grupo"), col("Categoria").as("nome_categoria"))
      .distinct()
    mergeDim("dim_categoria", rows, Seq("id_grupo", "nome_categoria"),
      "id_categoria", orderBy = Seq("id_grupo", "nome_categoria"))
  }

  /** fato_lancamento (reference app/etl.py:105-133): the 5-way star join
    * + merge-ignore on id_hash. All five dim sides broadcast; the only
    * shuffle left is the anti-join against existing hashes, and at scale
    * that prunes to the (ano, mes) partitions present in the batch.
    */
  def loadFato(): Long = {
    val sl = staging.withColumn("__d", parseMonth(col("Data")))
      .withColumn("ano", yearOf(col("__d")).cast("int"))
      .withColumn("mes", monthOf(col("__d")).cast("int"))
    val dt = broadcast(catalog.table("dim_tipo"))
    val dg = broadcast(catalog.table("dim_grupo"))
    val dc = broadcast(catalog.table("dim_categoria"))
    val cs = broadcast(catalog.table("dim_classificacao"))
    val dtmp = broadcast(catalog.table("dim_tempo"))

    val joined = sl
      .join(dt, sl("Tipo") === dt("nome_tipo"))
      .join(dg, dg("nome_grupo") === sl("Grupo") && dg("id_tipo") === dt("id_tipo"))
      .join(dc, dc("nome_categoria") === sl("Categoria") && dc("id_grupo") === dg("id_grupo"))
      .join(cs, cs("nome_classificacao") === sl("Classificação"))
      .join(dtmp, dtmp("ano") === sl("ano") && dtmp("mes") === sl("mes"))
      .select(
        dt("id_tipo"), dg("id_grupo"), dc("id_categoria"),
        dtmp("id_tempo"), cs("id_classificacao"),
        col("Descrição").as("descricao"),
        col("Valor").as("valor"),
        col("id_hash"),
        sl("ano"), sl("mes"))
    // strict parity: duplicate (ano, mes) dim_tempo rows (quirk 2) fan a
    // staging row into N candidates; keep one per id_hash like the
    // reference's ON CONFLICT DO NOTHING, deterministically (min id_tempo)
    val candidates =
      if (!strictQuirks) joined
      else {
        val w = Window.partitionBy(col("id_hash")).orderBy(col("id_tempo"))
        joined.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }

    val offset = catalog.maxId("fato_lancamento", "id_lancamento")
    val existing =
      if (!catalog.exists("fato_lancamento")) null
      else {
        // bounded driver collect: one row per distinct month in the batch
        val months = sl.select(col("ano"), col("mes")).na.drop("any").distinct()
          .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
        existingFactForMerge(months)
      }
    val delta = MergeIgnore.newRows(candidates, existing, Seq("id_hash"))
    // Size-aware id assignment (AQE-style, decided from table-format
    // FOOTER row counts — metadata only, no extra job): the delta is at
    // most the staged batch, so a bounded batch (the month-upload
    // cadence this pipeline serves) takes the one-job single-window
    // path; anything larger — a backfill, a migration — pays
    // assignScalable's two-pass scheme and keeps every task bounded.
    val batchRows = catalog.rowCount("staging_lancamentos")
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
    // fact plan — five broadcast joins, the anti-join, the id window —
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

  /** Shared dim-merge: anti-join existing, assign surrogate ids
    * continuing from the stored max (SERIAL semantics), append.
    *
    * CONTRACT: `rows` must already be key-distinct — every loader above
    * dedups at source (dim_tempo `dropDuplicates(ano, mes)`, the other
    * four a `distinct()` over exactly their key columns), because the
    * distinct doubles as the map-side reduction of a fact-scale batch
    * down to vocabulary size. mergeDim therefore anti-joins directly
    * instead of going through [[MergeIgnore.newRows]], whose defensive
    * `dropDuplicates(keys)` would be a second full exchange on the same
    * keys per loader per run — the optimizer collapses it only when the
    * source distinct covers exactly the key columns
    * (OPTIMIZATION_r19.md §3). */
  private def mergeDim(table: String, rows: DataFrame, keys: Seq[String],
                       idCol: String, orderBy: Seq[String]): Long = {
    val offset = catalog.maxId(table, idCol)
    // no distinct on the anti-join's existing side: anti-join semantics
    // are duplicate-insensitive, existing dim keys are unique by the
    // merge invariant anyway, and the distinct was one more exchange +
    // AQE stage job per loader per rerun
    val delta =
      if (!catalog.exists(table)) rows
      else rows.join(catalog.table(table).select(keys.map(col): _*),
        keys, "left_anti")
    val keyed = SurrogateKeys.assign(delta, idCol, orderBy, offset)
      .select(Schemas.schemaOf(table).fieldNames.map(col): _*)
    catalog.appendDelta(table, keyed)
  }

  /** The full build. The reference's only hard edges are
    * tipo→grupo→categoria→fato, tempo→fato, classificacao→fato
    * (app/etl.py:136-149 runs sequentially only by accident), so the
    * two dims off the tipo chain (tempo, classificacao) run as parallel
    * futures — concurrent Spark jobs interleave their stages and hide
    * scheduling latency; each writes a different table, preserving
    * single-writer-per-table discipline. The whole build runs inside
    * [[Catalog.transaction]]: other catalog instances see either the
    * previous warehouse state or the complete new one, never
    * dims-without-fact. The body never returns or throws before both
    * futures settle: a future still writing after the transaction ended
    * would publish its dim outside it. Returns per-table appended row
    * counts. */
  def run(): Map[String, Long] = catalog.transaction {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val tempoF = Future(loadDimTempo())
    val clsF = Future(loadDimClassificacao())
    val (tipo, grupo, categoria) =
      try (loadDimTipo(), loadDimGrupo(), loadDimCategoria())
      finally Seq(tempoF, clsF).foreach(Await.ready(_, Duration.Inf))
    val tempo = Await.result(tempoF, Duration.Inf)
    val cls = Await.result(clsF, Duration.Inf)
    val fato = loadFato()
    catalog.registerAll()
    Map(
      "dim_tempo" -> tempo, "dim_tipo" -> tipo, "dim_grupo" -> grupo,
      "dim_categoria" -> categoria, "dim_classificacao" -> cls,
      "fato_lancamento" -> fato)
  }
}
