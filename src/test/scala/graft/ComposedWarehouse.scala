package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.LedgerFunctions._
import graft.ledger.{Catalog, Schemas, Warehouse}
import graft.operators.{MergeIgnore, SurrogateKeys}

/** The star-schema build as six DataFrame pipelines, one per table:
  * five dimension loaders over one `mergeDim`, and the fact joined
  * against five broadcast dimension scans. Spec-scale parity reference
  * for [[graft.ledger.Warehouse]], which resolves the dimensions on the
  * driver in one vocabulary pass: both must build the same star schema,
  * surrogate ids included. Runs the loaders sequentially, in the
  * reference's dependency order, inside one transaction. */
final class ComposedWarehouse(catalog: Catalog, strictQuirks: Boolean = false) {

  private def staging: DataFrame = catalog.table("staging_lancamentos")

  /** dim_tempo (reference app/etl.py:20-40). */
  def loadDimTempo(): Long = {
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

  /** dim_grupo (reference app/etl.py:72-85). */
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

  /** fato_lancamento (reference app/etl.py:105-133): the 5-way star
    * join + merge-ignore on id_hash. */
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
        val months = sl.select(col("ano"), col("mes")).na.drop("any").distinct()
          .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
        existingFactForMerge(months)
      }
    val delta = MergeIgnore.newRows(candidates, existing, Seq("id_hash"))
    val batchRows = catalog.rowCount("staging_lancamentos")
    val assigned =
      if (batchRows <= Warehouse.boundedIdBatchRows)
        SurrogateKeys.assignBounded(delta, "id_lancamento", Seq("id_hash"), offset)
      else
        SurrogateKeys.assignScalable(delta, "id_lancamento", Seq("id_hash"), offset)
    val keyed = assigned
      .select(Schemas.fatoLancamento.fieldNames.map(col): _*)
    if (batchRows <= Warehouse.singleTaskWriteRows)
      catalog.appendDelta("fato_lancamento", keyed,
        partitionBy = Seq("ano", "mes"),
        clusterBy = Seq("id_tipo", "id_grupo", "id_categoria"))
    else {
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

  private def existingFactForMerge(batchMonths: Seq[(Int, Int)]): DataFrame = {
    val pred = batchMonths.map { case (a, m) =>
      col("ano") === a && col("mes") === m
    }.reduceOption(_ || _).getOrElse(lit(false))
    catalog.table("fato_lancamento").filter(pred)
  }

  /** Shared dim-merge: anti-join existing, assign surrogate ids
    * continuing from the stored max (SERIAL semantics), append. `rows`
    * must already be key-distinct. */
  private def mergeDim(table: String, rows: DataFrame, keys: Seq[String],
                       idCol: String, orderBy: Seq[String]): Long = {
    val offset = catalog.maxId(table, idCol)
    val delta =
      if (!catalog.exists(table)) rows
      else rows.join(catalog.table(table).select(keys.map(col): _*),
        keys, "left_anti")
    val keyed = SurrogateKeys.assign(delta, idCol, orderBy, offset)
      .select(Schemas.schemaOf(table).fieldNames.map(col): _*)
    catalog.appendDelta(table, keyed)
  }

  def run(): Map[String, Long] = catalog.transaction {
    val tipo = loadDimTipo()
    val grupo = loadDimGrupo()
    val categoria = loadDimCategoria()
    val tempo = loadDimTempo()
    val cls = loadDimClassificacao()
    val fato = loadFato()
    catalog.registerAll()
    Map(
      "dim_tempo" -> tempo, "dim_tipo" -> tipo, "dim_grupo" -> grupo,
      "dim_categoria" -> categoria, "dim_classificacao" -> cls,
      "fato_lancamento" -> fato)
  }
}
