package graft.pipelines

import graft.transforms.{Audit, Text}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Concrete auac/cronos module pipelines with full column lists — the
  * service-database side of the reference (`src/auac.py`, `src/cronos.py`),
  * so the CLI's `--modules auac|cronos` dispatch selects real work.
  * Same conventions as [[CorePipelines]]: pure DataFrame → DataFrame,
  * Oracle-shaped inputs, io injected by the caller.
  */
object ServicePipelines {

  /** Token normalization the auac module applies to enum-ish dimension
    * names: trim, uppercase, spaces → underscores, plus one extra literal
    * replacement ('/' for response types; '.' removed for procedure
    * types). All LITERAL replaces — the reference's
    * `str.replace_all(".", "")` at `src/auac.py:256` is a REGEX dot that
    * deletes every character of the name, the same bug class its array
    * cleanup had (fixed here like `Arrays.elementCleanup`). */
  private def enumToken(c: Column, drop: String, replacement: String): Column =
    regexp_replace(
      regexp_replace(Text.upper(trim(c)), " ", "_"),
      java.util.regex.Pattern.quote(drop), replacement)

  /** `migrate_requirements` (`src/auac.py:135-209`): the fallback-scalar +
    * conditional-FK shape. The requirement-taxonomy fallback (`name='-'`)
    * is a 1-row scalar under the reference's own cardinality guard
    * (`src/auac.py:155-161`); TIPO picks which FK column feeds
    * `requirement_taxonomy_id`, nulls falling to that scalar; the
    * three-state when-chain (VALIDATO → ANNULLATO → BOZZA) keeps the
    * reference's precedence (a row flagged both ways is VALIDATO). */
  def requirements(
      requisito: DataFrame, tipoRisposta: DataFrame,
      requirementTaxonomies: DataFrame, loadTime: Column): DataFrame = {
    val fallback = requirementTaxonomies.filter(col("name") === "-")
      .select(col("id").cast("string")).take(2)
    require(fallback.length == 1,
      s"found ${fallback.length} fallback requirement taxonomies (name='-'); exactly 1 expected")
    val fallbackId = fallback(0).getString(0)
    val risposta = tipoRisposta.select(
      Text.handleId(col("CLIENTID")).as("tr_id"),
      enumToken(col("NOME"), "/", "_").as("response_type"))
    val isS = (c: Column) => Text.handleId(c) === "s"
    requisito.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        Text.handleText(col("NOME")).as("name"),
        Text.handleText(col("TESTO")).as("text"),
        Text.handleText(col("ANNOTATIONS")).as("annotations"),
        when(isS(col("VALIDATO")), "VALIDATO")
          .when(isS(col("ANNULLATO")), "ANNULLATO")
          .otherwise("BOZZA").as("state"),
        coalesce(isS(col("IRRINUNCIABILE")), lit(false)).as("is_required"),
        coalesce(
          when(Text.handleId(col("TIPO")) === "generale", col("ID_TIPO_REQUISITO_FK"))
            .otherwise(col("ID_TIPO_SPECIFICO_REQUISITO_FK")),
          lit(fallbackId)).as("requirement_taxonomy_id"),
        Text.handleId(col("ID_TIPO_RISPOSTA_FK")).as("risposta_fk")) ++
        Audit.columns(loadTime): _*)
      .join(broadcast(risposta), col("risposta_fk") === col("tr_id"), "left")
      .drop("risposta_fk", "tr_id")
  }

  /** `migrate_procedures` (`src/auac.py:211-266`): status rewrite +
    * STATO-flagged audit. disabled_at keys on `STATO = 'CESTINATA'`
    * (`src/auac.py:228`) and the status column maps that same state to
    * BOZZA after the space→underscore normalization. */
  def procedures(
      domanda: DataFrame, tipoProc: DataFrame, loadTime: Column): DataFrame = {
    val statusNorm = regexp_replace(trim(col("STATO")), " ", "_")
    val proc = tipoProc.select(
      Text.handleId(col("CLIENTID")).as("tp_id"),
      enumToken(col("DESCR"), ".", "").as("procedure_type"))
    domanda.select(
      Text.handleId(col("CLIENTID")).as("id"),
      coalesce(col("ID_DOMANDA"), col("CODICE_UNIVOCO_NRECORD")).as("progressive_code"),
      col("ID_TITOLARE_FK").as("company_id"),
      Text.handleId(col("ID_TIPO_PROC_FK")).as("proc_fk"),
      when(statusNorm === "CESTINATA", "BOZZA").otherwise(statusNorm).as("status"),
      col("DATA_CONCLUSIONE").as("completion_date"),
      col("DATA_INVIO_DOMANDA").as("sent_date"),
      col("DATA_SCADENZA").as("expiration_date"),
      col("DURATA_PROCEDIMENTO").as("procedure_duration"),
      col("MASSIMA_DURATA_PROCEDIMENTO").as("max_procedure_duration"),
      col("NUMERO_PROCEDIMENTO").as("procedure_number"),
      Audit.handleCreatedAt(Audit.romeToUtc(col("CREATION")), loadTime).as("created_at"),
      Audit.handleUpdatedAt(Audit.romeToUtc(col("LAST_MOD")),
        Audit.romeToUtc(col("CREATION")), loadTime).as("updated_at"),
      Audit.handleDisabledAt(trim(col("STATO")), "CESTINATA",
        Audit.romeToUtc(col("LAST_MOD")),
        Audit.romeToUtc(col("CREATION"))).as("disabled_at"))
      .join(broadcast(proc), col("proc_fk") === col("tp_id"), "left")
      .drop("proc_fk", "tp_id")
  }

  /** `migrate_requirement_taxonomies` (`src/auac.py:42-101`): the general
    * type (filtered to the single 'generale' row, readonly) + every
    * specific type + ONE synthetic fallback row named '-'.
    *
    * The reference mints the fallback id with `uuid.uuid4()` at run time
    * (`src/auac.py:86-96`) — a fresh id every run, which breaks re-run
    * idempotence and any cross-load FK stability. Here the id is the
    * deterministic name-based UUID of a fixed tag, so re-runs (and the
    * [[requirements]] fallback scalar that looks it up by name) are
    * stable; created/updated stamp from the injected loadTime instead of
    * wall-clock now. */
  def requirementTaxonomies(
      tipoRequisito: DataFrame, tipoSpecificoRequisito: DataFrame,
      loadTime: Column): DataFrame = {
    def branch(df: DataFrame, readonly: Boolean): DataFrame = df.select(
      Text.handleId(col("CLIENTID")).as("id"),
      trim(col("NOME")).as("name"),
      lit(readonly).as("is_readonly"),
      lit(null).cast("timestamp").as("disabled_at"),
      Audit.handleCreatedAt(Audit.romeToUtc(col("CREATION")), loadTime).as("created_at"),
      Audit.handleUpdatedAt(Audit.romeToUtc(col("LAST_MOD")),
        Audit.romeToUtc(col("CREATION")), loadTime).as("updated_at"))
    val generale = branch(
      tipoRequisito.filter(Text.handleId(col("NOME")) === "generale"),
      readonly = true)
    val specifici = branch(tipoSpecificoRequisito, readonly = false)
    val fallbackId = java.util.UUID
      .nameUUIDFromBytes("requirement-taxonomy-fallback".getBytes("UTF-8")).toString
    val fallback = tipoRequisito.sparkSession.range(1).select(
      lit(fallbackId).as("id"),
      lit("-").as("name"),
      lit(false).as("is_readonly"),
      lit(null).cast("timestamp").as("disabled_at"),
      loadTime.cast("timestamp").as("created_at"),
      loadTime.cast("timestamp").as("updated_at"))
    generale.unionByName(specifici).unionByName(fallback)
  }

  /** `migrate_requirement_lists` (`src/auac.py:104-132`). */
  def requirementLists(
      listaRequisitiTempl: DataFrame, loadTime: Column): DataFrame =
    listaRequisitiTempl.select(
      Text.handleId(col("CLIENTID")).as("id"),
      trim(col("NOME")).as("name"),
      Text.handleId(col("ID_DELIBERA_TEMPL")).as("resolution_id"),
      Audit.handleDisabledAt(Text.lower(trim(col("DISABLED"))), "s",
        Audit.romeToUtc(col("LAST_MOD")),
        Audit.romeToUtc(col("CREATION"))).as("disabled_at"),
      Audit.handleCreatedAt(Audit.romeToUtc(col("CREATION")), loadTime).as("created_at"),
      Audit.handleUpdatedAt(Audit.romeToUtc(col("LAST_MOD")),
        Audit.romeToUtc(col("CREATION")), loadTime).as("updated_at"))

  /** `migrate_cronos_taxonomies` / `migrate_dm70_taxonomies`
    * (`src/cronos.py:35-84`): the identical two-column cronos taxonomy
    * shape over CLASSIFICAZIONE_PROGRAMMAZIONE / CLASSIFICAZIONE_DM_70.
    * (`migrate_cronos_plans` and `migrate_cronos_plan_grouping_specialties`
    * are literal `pass` stubs upstream, `src/cronos.py:120-139` — nothing
    * to re-express until the reference defines them.) */
  def cronosTaxonomy(classificazione: DataFrame): DataFrame =
    classificazione.select(
      Text.handleId(col("CLIENTID")).as("id"),
      Text.handleText(col("NOME")).as("name"))

  /** `migrate_healthcare_companies` (`src/cronos.py:88-118`): the minimal
    * cronos shape — cleaned codes joined back to the already-migrated ulss
    * dimension by CODE (a name-match join, J15 class, not an id FK). */
  def healthcareCompanies(
      aziendaSanitaria: DataFrame, ulss: DataFrame): DataFrame = {
    val ulssTr = ulss.select(
      col("id").as("ulss_id"), Text.strip(col("code")).as("u_code"))
    aziendaSanitaria.select(
      Text.handleId(col("CLIENTID")).as("id"),
      Text.handleText(col("CODICE")).as("code"),
      Text.handleText(col("DESCRIZIONE")).as("name"))
      .join(broadcast(ulssTr), col("code") === col("u_code"), "left")
      .drop("u_code")
  }
}
