package graft.pipelines

import graft.transforms.{Audit, Casts, EnumMap, JsonCols, Text}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The remaining concrete core-module dimension/bridge pipelines — every
  * `migrate_*` in `src/core.py` not already covered by [[CorePipelines]],
  * with full column lists. Same conventions: pure DataFrame → DataFrame,
  * Oracle-shaped inputs, io injected by the caller, ids/FKs normalized
  * through [[Text.handleId]] on both join sides (FIXTURES.md §A).
  */
object DimensionPipelines {

  /** `migrate_ulss` (`src/core.py:150-169`): trimmed name, verbatim code —
    * no CLIENTID upstream; the reference target keys on a PG serial. At
    * the parquet seam no database mints that serial, so a row without an
    * id could never serve the `healthcare_companies` ulss_id join-back:
    * a deterministic surrogate is minted here instead — row_number over
    * (code, name), stable across runs/retries. The single-partition
    * window is irrelevant at this cardinality (ULSS is a handful of
    * territorial authorities, bounded by geography, not data volume). */
  def ulss(ulssTerritoriale: DataFrame): DataFrame = {
    val w = Window.orderBy(col("code"), col("name"))
    ulssTerritoriale.select(
      trim(col("DESCRIZIONE")).as("name"),
      col("CODICE").as("code"))
      .withColumn("id", row_number().over(w).cast("long"))
      .select(col("id"), col("name"), col("code"))
  }

  /** `migrate_districts` (`src/core.py:172-196`): the P5/P6 composition —
    * TITOLARE trims, strips ONE trailing '-', then replaces the FIRST
    * remaining '-' with ' - ' (Polars `str.replace` is first-occurrence;
    * [[Text.replaceFirst]] pins that against Spark's replace-all). */
  def districts(distrettoTempl: DataFrame, loadTime: Column): DataFrame =
    distrettoTempl.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        Text.replaceFirst(Text.stripSuffix(trim(col("TITOLARE")), "-"), "-", " - ")
          .as("name"),
        col("DISTRETTO").as("code")) ++ Audit.columns(loadTime): _*)

  /** `migrate_company_types` (`src/core.py:243-272`): lowercased id and the
    * two strict-'S' POA flags (exact compare, no trim/fold —
    * `src/core.py:261-265`). */
  def companyTypes(tipoTitolareTempl: DataFrame, loadTime: Column): DataFrame =
    tipoTitolareTempl.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        trim(col("DESCR")).as("name"),
        coalesce(col("SHOW_DICHIARAZIONE_DIR_SAN") === "S", lit(false))
          .as("is_show_health_director_declaration_poa"),
        coalesce(col("ORGANIGRAMMA_ATTIVO") === "S", lit(false)).as("is_active_poa")
      ) ++ Audit.columns(loadTime): _*)

  /** `migrate_physical_structures` (`src/core.py:367-412`): projection plus
    * the P15/P16 JSON `extra` envelope — {docway_file_id, area_id}, all
    * fields null → the literal `{}` (`src/core.py:396-406`). */
  def physicalStructures(strutturaModel: DataFrame, loadTime: Column): DataFrame =
    strutturaModel.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        trim(col("DENOMINAZIONE")).as("name"),
        trim(col("CODICE_PF")).as("code"),
        trim(col("CODICE_PF_SECONDARIO")).as("secondary_code"),
        Text.handleId(col("ID_DISTRETTO_FK")).as("district_id"),
        Text.handleId(col("ID_TITOLARE_FK")).as("company_id")) ++
        Audit.columns(loadTime) :+
        JsonCols.jsonEnvelope(
          "docway_file_id" -> col("ID_FASCICOLO_DOCWAY"),
          "area_id" -> col("ID_COMPRENSORIO_FK")).as("extra"): _*)

  /** `migrate_buildings` (`src/core.py:478-525`): owner columns, the
    * FLAG_DI_PROPRIETA=1 numeric flag, and the single-field `extra`
    * envelope. */
  def buildings(edificioStrTempl: DataFrame, loadTime: Column): DataFrame =
    edificioStrTempl.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        trim(col("NOME")).as("name"),
        trim(col("CODICE")).as("code"),
        Text.handleId(col("ID_STRUTTURA_FK")).as("physical_structure_id"),
        trim(col("CF_DI_PROPRIETA")).as("owner_tax_code"),
        trim(col("COGNOME_DI_PROPRIETA")).as("owner_last_name"),
        trim(col("NOME_DI_PROPRIETA")).as("owner_first_name"),
        trim(col("RAGIONE_SOCIALE_DI_PROPRIETA")).as("owner_business_name"),
        trim(col("PIVA_DI_PROPRIETA")).as("owner_vat_number"),
        coalesce(col("FLAG_DI_PROPRIETA") === 1, lit(false)).as("is_own_property")) ++
        Audit.columns(loadTime) :+
        JsonCols.jsonEnvelope(
          "docway_file_id" -> col("ID_FASCICOLO_DOCWAY")).as("extra"): _*)

  /** Macroarea canonicalization (`src/core.py:529-534`); no default —
    * unmapped stays null. */
  val macroareaMapping: Map[String, String] = Map(
    "acuti" -> "ACUTI", "riabilitazione" -> "RIABILITAZIONE",
    "intermedie" -> "INTERMEDIE", "territoriale" -> "TERRITORIALE")

  /** `migrate_grouping_specialties` (`src/core.py:546-592`): one broadcast
    * dimension join (macroarea) + the no-default enum map. */
  def groupingSpecialties(
      raggDiscpl: DataFrame, macroareaProgrammazione: DataFrame,
      loadTime: Column): DataFrame = {
    val macroDim = macroareaProgrammazione.select(
      Text.handleId(col("CLIENTID").cast("string")).as("macro_id"),
      trim(col("NOME")).as("macroarea_raw"))
    raggDiscpl
      .join(broadcast(macroDim),
        Text.handleId(col("ID_MACROAREA_FK").cast("string")) === col("macro_id"), "left")
      .select(
        Seq(
          Text.handleId(col("CLIENTID").cast("string")).as("id"),
          trim(col("DENOMINAZIONE")).as("name"),
          col("ORDINE").cast("int").as("sort_order"),
          EnumMap.handleEnumMappingOrNull(col("macroarea_raw"), macroareaMapping)
            .as("macroarea")) ++ Audit.columns(loadTime): _*)
  }

  /** `migrate_resolution_types` (`src/core.py:715-747`): delibera + atto
    * type branches (both names uppercased), vertical union, then
    * first-wins dedup on `name`. Documented divergence: the reference's
    * `unique("name")` keeps an ARBITRARY row per name; here the keeper is
    * pinned deterministically (min id — delibera ids sort before atto ids
    * only by value, not by branch), the same discipline as
    * [[CorePipelines.disambiguateNames]]. */
  def resolutionTypes(
      tipoDelibera: DataFrame, tipoAtto: DataFrame, loadTime: Column): DataFrame = {
    val delib = tipoDelibera.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        Text.upper(trim(col("NOME"))).as("name")) ++ Audit.columns(loadTime): _*)
    val atti = tipoAtto.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        Text.upper(trim(col("DESCR"))).as("name")) ++ Audit.columns(loadTime): _*)
    val w = Window.partitionBy(col("name")).orderBy(col("id"))
    delib.unionByName(atti)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** `migrate_operational_units` (`src/core.py:1052-1083`). */
  def operationalUnits(uoModel: DataFrame, loadTime: Column): DataFrame =
    uoModel.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        trim(col("COD_UNIVOCO_UO")).as("code"),
        trim(col("DENOMINAZIONE")).as("name"),
        trim(col("DESCR")).as("description"),
        Text.handleId(col("ID_TITOLARE_FK")).as("company_id")) ++
        Audit.columns(loadTime): _*)

  /** `migrate_production_factor_types` (`src/core.py:1086-1115`): DESCR
    * doubles as `code` with whitespace runs collapsed. */
  def productionFactorTypes(
      tipoFattoreProdTempl: DataFrame, loadTime: Column): DataFrame =
    tipoFattoreProdTempl.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        trim(col("NOME")).as("name"),
        Text.handleText(col("DESCR")).as("code"),
        trim(col("TIPOLOGIA_FATT_PROD")).as("category")) ++
        Audit.columns(loadTime): _*)

  /** ""/"?"/null → 0, else UInt16-pinned int (`src/core.py:1131-1143`).
    * Documented divergence: other garbage nulls (try_cast) where the
    * reference's strict cast would abort the whole migration. */
  private def bedCount(c: Column): Column = {
    val t = trim(c)
    Casts.tryToUInt(
      when(t.isNull || t === "" || t === "?", "0").otherwise(t))
  }

  /** "NUL" placeholder → null after the standard text clean
    * (`src/core.py:1144-1156`). */
  private def nulText(c: Column): Column = {
    val cleaned = Text.handleText(c)
    when(cleaned === "NUL", lit(null).cast("string")).otherwise(cleaned)
  }

  /** `migrate_production_factors` (`src/core.py:1118-1164`): the dirtiest
    * numeric columns in the reference — bed counts arrive as strings with
    * ""/"?" placeholders; room name/code carry NUL-byte noise and a
    * literal "NUL" placeholder. */
  def productionFactors(
      fattProdUdoModel: DataFrame, loadTime: Column): DataFrame =
    fattProdUdoModel.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        Text.handleId(col("ID_TIPO_FK")).as("production_factor_type_id"),
        bedCount(col("VALORE")).as("num_beds"),
        bedCount(col("VALORE3")).as("num_hospital_beds"),
        nulText(col("VALORE2")).as("room_name"),
        nulText(col("DESCR")).as("room_code")) ++
        Audit.columns(loadTime): _*)

  /** `migrate_udo_type_classifications` (`src/core.py:1167-1196`). */
  def udoTypeClassifications(
      classificazioneUdoTempl: DataFrame, loadTime: Column): DataFrame =
    classificazioneUdoTempl.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        trim(col("NOME")).as("name")) ++ Audit.columns(loadTime): _*)

  /** `migrate_user_companies` (`src/core.py:1917-1952`): the operator
    * bridge; is_legal_representative is the reference's open TODO —
    * hard false until TITOLARE_MODEL.ID_UTENTE_FK is linked. */
  def userCompanies(operatoreModel: DataFrame, loadTime: Column): DataFrame =
    operatoreModel.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        lit(false).as("is_legal_representative"),
        Text.handleId(col("ID_UTENTE_FK")).as("user_id"),
        Text.handleId(col("ID_TITOLARE_FK")).as("company_id")) ++
        Audit.columns(loadTime): _*)

  /** The three two-column bridge migrations, one shape
    * (`src/core.py:1536-1553` udo_production_factors, `:1556-1573`
    * udo_type_production_factor_types, `:1659-1676` udo_resolutions):
    * strip both FKs, rename. */
  def bindPair(
      df: DataFrame, srcA: String, outA: String,
      srcB: String, outB: String): DataFrame =
    df.select(
      Text.handleId(col(srcA)).as(outA),
      Text.handleId(col(srcB)).as(outB))
}
