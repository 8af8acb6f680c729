package graft.pipelines

import graft.io.ObjectStore
import graft.transforms.{Arrays, Audit, Casts, EnumMap, Text}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Concrete reference pipelines (SURVEY §7.1 step 5), pure
  * DataFrame → DataFrame so sources/sinks stay injectable: production wires
  * `graft.io.Jdbc`, tests wire Oracle-shaped fixtures (FIXTURES.md §A).
  *
  * Three pipelines cover the reference's three structural shapes; every
  * other core/auac/cronos pipeline is one of these with different column
  * lists:
  *  - [[toponyms]] — minimal id+name+audit projection (`src/core.py:123-147`);
  *  - [[companies]] — dimension-join enrichment + enum mapping
  *    (`src/core.py:275-364`);
  *  - resolutions — branch/union/split/side-effect/join-back/rename
  *    (`src/core.py:750-1046`), decomposed into [[resolutionBranches]],
  *    [[attachMappingWithRelease]], and [[disambiguateNames]] so the object-store
  *    side effect sits between plannable stages;
  *  - [[udoTypes]] — arrays + grouped-list bridges + PG text[] literals
  *    (`src/core.py:1294-1455`), the full column list;
  *  - [[users]] — alias hygiene (the reference's `CLIENTID_right`) +
  *    provenance null-out (`src/core.py:1826-1900`), the full column list.
  */
object CorePipelines {

  /** `migrate_toponyms` (`src/core.py:123-147`): normalize id, trim name,
    * audit triple. The minimal pipeline shape (same as ulss, districts,
    * udo classifications, …). */
  def toponyms(toponimoTempl: DataFrame, loadTime: Column): DataFrame =
    toponimoTempl.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        Text.handleText(col("NOME")).as("name")) ++ Audit.columns(loadTime): _*)

  /** Company-form enum semantics (`src/core.py:203-218`): dirty free-text
    * legal forms normalize to a canonical enum, unmapped → OTHER. */
  val companyFormMapping: Map[String, String] = Map(
    "s.r.l." -> "SRL", "srl" -> "SRL",
    "s.p.a." -> "SPA", "spa" -> "SPA",
    "s.n.c." -> "SNC", "s.a.s." -> "SAS",
    "ditta individuale" -> "DITTA_INDIVIDUALE",
    "associazione" -> "ASSOCIAZIONE",
    "fondazione" -> "FONDAZIONE")

  /** `migrate_companies` (`src/core.py:275-364`): three chained left joins
    * onto cleaned dimensions (requester type, company nature,
    * municipalities by ISTAT code), then the wide projection with enum
    * mapping and audit triple. Dimensions broadcast — every right side is
    * a small table (SURVEY §2.5). */
  def companies(
      titolare: DataFrame, tipoRichiedente: DataFrame, natura: DataFrame,
      municipalities: DataFrame, loadTime: Column): DataFrame = {
    val tipo = tipoRichiedente.select(
      Text.handleId(col("CLIENTID")).as("tr_id"),
      Text.handleText(col("NOME")).as("business_applicant_type"))
    val nat = natura.select(
      Text.handleId(col("CLIENTID")).as("nat_id"),
      Text.handleText(col("NOME")).as("nature"))
    val mun = municipalities.select(
      Text.strip(col("istat_code")).as("mun_istat"),
      col("id").as("municipality_id"))
    titolare
      .join(broadcast(tipo), Text.handleId(col("ID_TIPO_RICH_FK")) === col("tr_id"), "left")
      .join(broadcast(nat), Text.handleId(col("ID_NATURA_FK")) === col("nat_id"), "left")
      .join(broadcast(mun), Text.strip(col("COD_COMUNE_ESTESO")) === col("mun_istat"), "left")
      .select(
        Seq(
          Text.handleId(col("CLIENTID")).as("id"),
          Text.handleText(col("DENOMINAZIONE")).as("name"),
          Text.handleText(col("RAG_SOC")).as("business_name"),
          EnumMap.handleEnumMapping(
            col("FORMA_SOCIETARIA"), companyFormMapping, "OTHER").as("company_form"),
          trim(col("CFISC")).as("fiscal_code"),
          trim(col("PIVA")).as("vat_number"),
          col("business_applicant_type"),
          col("nature"),
          col("municipality_id")) ++ Audit.columns(loadTime): _*)
      .drop("tr_id", "nat_id", "mun_istat")
  }

  /** Resolutions step 1 (`src/core.py:790-894`): the delibera and atto
    * branches, each enriched with its type dimension, unioned
    * diagonal-relaxed (missing columns → null). The atto name is the
    * reference's `ANNO-NUMERO [ID]` concat (`src/core.py:836-844` — null
    * propagates if any part is null, pinned in the spec). */
  def resolutionBranches(
      delibera: DataFrame, tipoDelibera: DataFrame,
      atto: DataFrame, tipoAtto: DataFrame, loadTime: Column): DataFrame = {
    val td = tipoDelibera.select(
      Text.handleId(col("CLIENTID")).as("td_id"),
      Text.handleText(col("NOME")).as("resolution_type"))
    val ta = tipoAtto.select(
      Text.handleId(col("CLIENTID")).as("ta_id"),
      Text.handleText(col("DESCR")).as("resolution_type"))
    val delib = delibera
      .join(broadcast(td), Text.handleId(col("ID_TIPO_FK")) === col("td_id"), "left")
      .select(
        Seq(
          Text.handleId(col("CLIENTID")).as("id"),
          Text.handleText(col("NOME")).as("name"),
          col("resolution_type"),
          col("ALLEGATO").as("attachment")) ++ Audit.columns(loadTime): _*)
    val atti = atto
      .join(broadcast(ta), Text.handleId(col("ID_TIPO_FK")) === col("ta_id"), "left")
      .select(
        Seq(
          Text.handleId(col("CLIENTID")).as("id"),
          concat(trim(col("ANNO")), lit("-"), trim(col("NUMERO")),
            lit(" ["), Text.handleId(col("CLIENTID")), lit("]")).as("name"),
          col("resolution_type"),
          lit(null).cast("binary").as("attachment")) ++ Audit.columns(loadTime): _*)
    delib.unionByName(atti, allowMissingColumns = true)
  }

  /** Resolutions step 2 (`src/core.py:895-1012`): split on attachment
    * presence, upload the with-attachment half through the object store
    * (deterministic keys, partition-level parallelism, content type from
    * the reference's MIME table — `src/core.py:709-712,938`), join the
    * id→object mapping back, and ASSERT completeness — every uploaded row
    * must have a mapping (`src/core.py:1012`). Returns the re-unioned frame
    * (`src/core.py:1014-1020`), with a hook that releases the mapping's
    * cache.
    *
    * The upload `mapPartitions` executes exactly ONCE per run: the mapping
    * is persisted and forced by the completeness assert, so the caller's
    * sink action reads the cached (id, objectKey, nBytes) rows — never the
    * BLOBs — instead of re-running the upload. (Deterministic keys make a
    * re-run idempotent, but at 100 TB of attachments it would double the
    * upload I/O.) The cached frame is metadata-only: ~100 bytes per
    * attachment, not the payloads. Call the returned hook after the final
    * action over the frame. */
  def attachMappingWithRelease(
      resolutions: DataFrame, bucket: String,
      clientFactory: () => ObjectStore.Client): (DataFrame, () => Unit) = {
    val withA = resolutions.filter(col("attachment").isNotNull)
    val withoutA = resolutions.filter(col("attachment").isNull)
      .withColumn("object_key", lit(null).cast("string"))
    val mapping = ObjectStore.upload(
      withA.select(
        col("id"), col("name"),
        ObjectStore.contentTypeForName(col("name")).as("mime"),
        col("attachment").as("payload")),
      bucket, clientFactory).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val joined = withA.join(mapping.select(col("id").as("m_id"), col("objectKey")),
      col("id") === col("m_id"), "left")
    // This count both asserts completeness AND materializes the persisted
    // mapping (the join consumes every mapping partition). On the failure
    // path the caller never receives the release hook, so the cache must
    // not outlive the throw.
    try {
      val missing = joined.filter(col("objectKey").isNull).count()
      require(missing == 0, s"$missing uploaded resolutions lost their object mapping")
    } catch { case e: Throwable => mapping.unpersist(); throw e }
    val merged = joined
      .select((withA.columns.map(col) :+ col("objectKey").as("object_key")).toIndexedSeq: _*)
      .unionByName(withoutA)
    (merged, () => { mapping.unpersist(); () })
  }

  /** Oracle 'S'/'Y' char flag → boolean (`src/core.py:1251-1291` repeats
    * this when/then ten times per table): lower(trim(c)) ∈ {s,y} → true,
    * anything else INCLUDING null → false (the reference's `.otherwise(
    * False)` swallows nulls too). */
  private def ynFlag(c: Column): Column =
    coalesce(Text.handleId(c).isin("s", "y"), lit(false))

  /** Company-nature canonicalization (`src/core.py:1337-1350`): exact-match
    * rewrite, unmapped values pass through VERBATIM (not a default). */
  val companyNatureMapping: Map[String, String] = Map(
    "AzSan" -> "AZIENDA_SANITARIA", "Pub" -> "PUBBLICO", "Pri" -> "PRIVATO")

  /** `migrate_udo_types` (`src/core.py:1294-1455`) — the arrays +
    * grouped-lists + bridge-join shape: a template dimension enriched
    * through one direct bridge (scope) and two grouped-list bridges
    * (company natures, ministerial flows), each list element-mapped, then
    * the wide rename with PG text[] literals.
    *
    * Documented divergences from the reference, pinned in
    * `ReferencePipelineSpec`:
    *  - grouped lists are CANONICALIZED (`sort_array` on the joined name
    *    before element mapping) — the reference inherits physical row
    *    order, which a distributed shuffle does not preserve;
    *  - `collect_list` drops null elements (an unmatched nature FK), which
    *    matches what the reference LOADS: its PG-literal join also skips
    *    `None` items (`src/core.py:1437,1445`), so the null only ever
    *    existed between two intermediate stages there;
    *  - ids/FKs normalize through [[Text.handleId]] on both bridge sides
    *    (the FIXTURES.md §A dirty-id convention every pipeline here uses).
    *
    * All five right sides are dimension/bridge-scale → broadcast; the only
    * shuffles are the two grouped-list aggregations, each keyed on the
    * 36-byte template id. */
  def udoTypes(
      tipoUdo22: DataFrame, bindAmbito: DataFrame, ambito: DataFrame,
      bindNatura: DataFrame, natura: DataFrame,
      bindFlusso: DataFrame, flusso: DataFrame, loadTime: Column): DataFrame = {
    val tipo = tipoUdo22.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("tipo_id"),
        Text.handleText(col("DESCR")).as("name"),
        trim(col("CODICE_UDO")).as("code"),
        trim(col("NOME_CODICE_UDO")).as("code_name"),
        trim(col("SETTING")).as("setting"),
        trim(col("TARGET")).as("target"),
        Text.handleId(col("ID_CLASSIFICAZIONE_UDO_FK")).as("udo_type_classification_id"),
        ynFlag(col("OSPEDALIERO")).as("is_hospital"),
        ynFlag(col("SALUTE_MENTALE")).as("is_mental_health"),
        ynFlag(col("POSTI_LETTO")).as("has_beds")) ++ Audit.columns(loadTime): _*)
    val amb = ambito.select(
      Text.handleId(col("CLIENTID")).as("amb_id"),
      Text.handleText(col("NOME")).as("scope_name"),
      Text.handleText(col("DESCR")).as("scope_description"),
      ynFlag(col("AGGIUNGI_DISCIPLINE")).as("has_disciplines"),
      ynFlag(col("AGGIUNGI_DISCIPLINE_AZ_SAN")).as("has_disciplines_only_healthcare_company"),
      ynFlag(col("AGGIUNGI_DISCIPLINE_PUB_PRIV")).as("has_disciplines_only_public_or_private_company"),
      ynFlag(col("AGGIUNGI_BRANCHE")).as("has_branches"),
      ynFlag(col("AGGIUNGI_BRANCHE_AZ_SAN")).as("has_branches_only_healthcare_company"),
      ynFlag(col("AGGIUNGI_BRANCHE_PUB_PRIV")).as("has_branches_only_public_or_private_company"),
      ynFlag(col("AGGIUNGI_PRESTAZIONI")).as("has_services"),
      ynFlag(col("AGGIUNGI_AMBITO")).as("has_scopes"))
    val bindA = bindAmbito.select(
      Text.handleId(col("ID_TIPO_22_FK")).as("ba_tipo"),
      Text.handleId(col("ID_AMBITO_FK")).as("ba_amb"))
    val natures = bindNatura
      .join(broadcast(natura.select(
        Text.handleId(col("CLIENTID")).as("n_id"),
        Text.handleText(col("NOME")).as("n_nome"))),
        Text.handleId(col("ID_NATURA_FK")) === col("n_id"), "left")
      .groupBy(Text.handleId(col("ID_TIPO_UDO_22_FK")).as("bn_tipo"))
      .agg(sort_array(collect_list(col("n_nome"))).as("nature_raw"))
      .select(col("bn_tipo"),
        Arrays.transformElements(col("nature_raw"), x =>
          coalesce(element_at(typedLit(companyNatureMapping), x), x))
          .as("company_natures"))
    val flows = bindFlusso
      .join(broadcast(flusso.select(
        Text.handleId(col("CLIENTID")).as("f_id"),
        Text.handleText(col("NOME")).as("f_nome"))),
        Text.handleId(col("ID_FLUSSO_FK")) === col("f_id"), "left")
      .groupBy(Text.handleId(col("ID_TIPO_UDO_22_FK")).as("bf_tipo"))
      .agg(sort_array(collect_list(col("f_nome"))).as("flow_raw"))
      .select(col("bf_tipo"),
        Arrays.elementCleanup(col("flow_raw")).as("ministerial_flows"))
    tipo
      .join(broadcast(bindA), col("tipo_id") === col("ba_tipo"), "left")
      .join(broadcast(amb), col("ba_amb") === col("amb_id"), "left")
      .join(broadcast(natures), col("tipo_id") === col("bn_tipo"), "left")
      .join(broadcast(flows), col("tipo_id") === col("bf_tipo"), "left")
      .filter(Text.notNullNotEmpty(col("scope_name")))
      .select(
        col("tipo_id").as("id"), col("name"), col("code"), col("code_name"),
        col("setting"), col("target"), col("udo_type_classification_id"),
        col("is_hospital"), col("is_mental_health"), col("has_beds"),
        col("scope_name"), col("scope_description"),
        col("has_disciplines"),
        col("has_disciplines_only_healthcare_company"),
        col("has_disciplines_only_public_or_private_company"),
        col("has_branches"),
        col("has_branches_only_healthcare_company"),
        col("has_branches_only_public_or_private_company"),
        col("has_services"), col("has_scopes"),
        Arrays.toPgTextArrayLiteral(Arrays.nullToEmpty(col("company_natures")))
          .as("company_natures"),
        Arrays.toPgTextArrayLiteral(Arrays.nullToEmpty(col("ministerial_flows")))
          .as("ministerial_flows"),
        col("disabled_at"), col("created_at"), col("updated_at"))
  }

  /** Specialty-type enum (`src/core.py:537-543`); no default — unmapped
    * and null both stay null (the reference's mapping-without-default). */
  val specialtyTypeMapping: Map[String, String] = Map(
    "alt" -> "ALTRO", "ter" -> "TERRITORIALE", "terr" -> "TERRITORIALE",
    "nonosp" -> "NON_OSPEDALIERO", "osp" -> "OSPEDALIERO")

  /** `migrate_specialties` (`src/core.py:594-693`) — the three-branch
    * diagonal-union shape with a driver-side scalar guard:
    *
    *  1. every branch row (including the ALTRO one) becomes a BRANCH
    *     record (the reference's `_not_altro_tr` name is a misnomer — it
    *     never filters, `src/core.py:614`);
    *  2. the single branch flagged IS_ALTRO='S' is the parent for all
    *     "other articulation" records — a 1-row scalar pulled driver-side
    *     under a cardinality guard exactly like the reference's
    *     `height != 1` raise (`src/core.py:634-639`; A5 + F5 pattern,
    *     bounded by construction);
    *  3. disciplines carry the enum-typed `type` and their own flags.
    *
    * All three legs project to the SAME target column list, so the
    * diagonal-relaxed concat degrades to a plain unionByName here. */
  def specialties(
      disciplina: DataFrame, branca: DataFrame, articBrancaAltro: DataFrame,
      loadTime: Column): DataFrame = {
    val nullStr = lit(null).cast("string")
    val nullInt = lit(null).cast("int")
    val branches = branca.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        Text.handleText(col("NOME")).as("name"),
        nullInt.as("sort_order"),
        coalesce(Text.handleText(col("DESCR")), lit("-")).as("description"),
        lit("BRANCH").as("record_type"),
        nullStr.as("type"),
        trim(col("CODICE")).as("code"),
        coalesce(col("PROGRAMMAZIONE") === 1, lit(false)).as("is_used_in_cronos"),
        lit(true).as("is_used_in_poa"),
        nullStr.as("grouping_specialty_id"),
        trim(col("ID_BRANCA").cast("string")).as("old_id"),
        nullStr.as("parent_specialty_id")) ++ Audit.columns(loadTime): _*)
    // The scalar guard: exactly ONE branch may be flagged ALTRO. collect()
    // here is bounded by that same contract (≤ a handful of rows even when
    // the invariant is violated — the take(2) caps it).
    val altro = branca.filter(Text.handleId(col("IS_ALTRO")) === "s")
      .select(Text.handleId(col("CLIENTID"))).take(2)
    require(altro.length == 1,
      s"found ${altro.length} branches marked ALTRO; exactly 1 expected")
    val parentId = altro(0).getString(0)
    val artic = articBrancaAltro.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        coalesce(Text.handleText(col("DESCR")), lit("-")).as("name"),
        nullInt.as("sort_order"),
        Text.handleText(col("SETTING_BRANCA")).as("description"),
        lit("BRANCH").as("record_type"),
        nullStr.as("type"),
        coalesce(Text.handleText(col("DESCR")), lit("-")).as("code"),
        lit(true).as("is_used_in_cronos"),
        lit(true).as("is_used_in_poa"),
        nullStr.as("grouping_specialty_id"),
        nullStr.as("old_id"),
        lit(parentId).as("parent_specialty_id")) ++ Audit.columns(loadTime): _*)
    val disciplines = disciplina.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        Text.handleText(col("NOME")).as("name"),
        col("ORDINE").cast("int").as("sort_order"),
        Text.handleText(col("DESCR")).as("description"),
        lit("DISCIPLINE").as("record_type"),
        EnumMap.handleEnumMappingOrNull(col("TIPO"), specialtyTypeMapping).as("type"),
        trim(col("CODICE")).as("code"),
        coalesce(col("PROGRAMMAZIONE") === 1, lit(false)).as("is_used_in_cronos"),
        coalesce(col("POA") === 1, lit(false)).as("is_used_in_poa"),
        Text.handleId(col("ID_RAGG_DISCIPL_TEMPL_FK")).as("grouping_specialty_id"),
        trim(col("ID_DISCIPLINA").cast("string")).as("old_id"),
        nullStr.as("parent_specialty_id")) ++ Audit.columns(loadTime): _*)
    branches.unionByName(artic).unionByName(disciplines)
  }

  /** User-role enum (`src/core.py:1807-1810`); unmapped AND null both fall
    * back to OPERATOR (the reference spells that as default= plus an extra
    * `.fill_null`, `src/core.py:1863-1868` — one coalesce covers both). */
  val userRoleMapping: Map[String, String] = Map(
    "region" -> "REGIONAL_OPERATOR", "amministratore" -> "ADMIN")

  /** `migrate_users` (`src/core.py:1826-1900`) — the alias-hygiene +
    * provenance-null-out shape.
    *
    * The reference joins UTENTE_MODEL into the anagrafica side and then
    * consumes the collision-suffixed hidden column `CLIENTID_right` for
    * the target id — its own code carries a TODO admitting the hazard
    * (`src/core.py:1858-1862`). Here every utente-side column is aliased
    * BEFORE the join (J12 alias hygiene), so `id` visibly sources from
    * UTENTE_MODEL and no suffix magic exists to consume. Audit columns
    * source from the anagrafica side (the reference's unsuffixed
    * `CREATION`/`LAST_MOD` resolve to the join's left frame); disabled_at
    * is the DIRECT timestamp `DATA_DISABILITATO` from the utente side,
    * passed through VERBATIM — the reference's direct_disabled_col path
    * applies no Rome→UTC normalization (`src/utils.py:384-386`).
    *
    * The ORGANIGRAMMA_TREE provenance null-out (P28) runs BEFORE the
    * operational-unit join, so a tree-sourced uo FK never matches. Both
    * right sides (municipalities, uo) broadcast. */
  def users(
      utente: DataFrame, anagrafica: DataFrame, uo: DataFrame,
      municipalities: DataFrame, loadTime: Column): DataFrame = {
    val ut = utente.select(
      Text.handleId(col("CLIENTID")).as("user_id"),
      Text.handleId(col("ID_ANAGR_FK")).as("anagr_fk"),
      Text.handleText(col("USERNAME_CAS")).as("username"),
      EnumMap.handleEnumMapping(col("RUOLO"), userRoleMapping, "OPERATOR").as("role"),
      when(trim(col("PROVENIENZA_UO")) === "ORGANIGRAMMA_TREE", lit(null))
        .otherwise(Text.strip(col("ID_UO"))).as("uo_fk"),
      col("DATA_DISABILITATO").as("disabled_at"))
    val mun = municipalities.select(
      Text.strip(col("istat_code")).as("mun_istat"),
      col("name").as("birth_place"))
    val uoTr = uo.select(
      Text.handleId(col("CLIENTID")).as("operational_unit_id"),
      Text.strip(col("ID_UO")).as("uo_id"))
    anagrafica
      .join(broadcast(mun), Text.strip(col("COD_LUOGO_NASCITA")) === col("mun_istat"), "left")
      .join(broadcast(ut), Text.handleId(col("CLIENTID")) === col("anagr_fk"), "left")
      .select(
        Seq(
          col("user_id").as("id"),
          col("username"),
          col("role"),
          Text.handleText(col("NOME")).as("first_name"),
          Text.handleText(col("COGNOME")).as("last_name"),
          Text.handleText(col("CFISC")).as("tax_code"),
          coalesce(Text.handleText(col("EMAIL")), lit("-")).as("email"),
          Casts.handleDatetime(col("DATA_NASCITA")).as("birth_date"),
          Text.handleText(col("VIA_PIAZZA")).as("street_name"),
          Text.handleText(col("CIVICO")).as("street_number"),
          Text.handleText(col("TELEFONO")).as("phone"),
          Text.handleText(col("CELLULARE")).as("mobile_phone"),
          Text.handleText(col("CARTA_IDENT_NUM")).as("identity_doc_number"),
          Casts.handleDatetime(col("CARTA_IDENT_SCAD")).as("identity_doc_expiry_date"),
          Text.handleText(col("PROFESSIONE")).as("job"),
          col("birth_place"),
          col("uo_fk"),
          col("disabled_at"),
          Audit.handleCreatedAt(Audit.romeToUtc(col("CREATION")), loadTime).as("created_at"),
          Audit.handleUpdatedAt(Audit.romeToUtc(col("LAST_MOD")),
            Audit.romeToUtc(col("CREATION")), loadTime).as("updated_at")): _*)
      .join(broadcast(uoTr), col("uo_fk") === col("uo_id"), "left")
      .drop("uo_fk", "uo_id")
  }

  /** Strict 'y'-only flag (`src/core.py:1486,1493-1499`): the UDO-model
    * flags accept ONLY lowercase-trimmed "y" — unlike [[ynFlag]]'s s-or-y
    * dimensions — and null → false. */
  private def yFlag(c: Column): Column =
    coalesce(Text.handleId(c) === "y", lit(false))

  /** Oracle's "-" placeholder → null after trim (`src/core.py:1481-1482`,
    * Polars `replace("-", None)`). */
  private def dashToNull(c: Column): Column =
    when(trim(c) === "-", lit(null).cast("string")).otherwise(trim(c))

  /** Trim + strip embedded newlines/CRs (`src/core.py:1474` — the UDO
    * free-text columns remove `\n`/`\r` but do NOT collapse interior
    * whitespace runs like [[Text.handleText]] does). */
  private def stripCrLf(c: Column): Column =
    trim(regexp_replace(c, "[\\n\\r]", ""))

  /** `migrate_sedi_operative` (`src/core.py:408-476`) → the
    * `operational_offices` table: the J2 shape — two broadcast dimension
    * joins (municipalities by ISTAT code, physical-point type by FK) into
    * the wide rename with the audit triple.
    *
    * lat/lon carry the reference's two-stage typing in ONE projection: the
    * transform casts Float64 (`src/core.py:465-466`) and the target DDL is
    * `numeric(8,2)` (`sql/init_core.sql:117-118`), which PG coerces at
    * INSERT; here the plan says `try_cast(decimal(8,2))` explicitly —
    * same HALF_UP rounding PG applies, null on garbage, and the sink needs
    * no hidden coercion. `physical_point_type` passes the dimension NOME
    * through verbatim (the reference applies no strip there,
    * `src/core.py:435-439,464`). */
  def operationalOffices(
      sedeOper: DataFrame, municipalities: DataFrame,
      tipoPuntoFisico: DataFrame, loadTime: Column): DataFrame = {
    val mun = municipalities.select(
      col("id").as("municipality_id"),
      Text.strip(col("istat_code")).as("mun_istat"))
    val tpf = tipoPuntoFisico.select(
      Text.handleId(col("CLIENTID")).as("tpf_id"),
      col("NOME").as("physical_point_type"))
    sedeOper
      .join(broadcast(mun), Text.strip(col("ISTAT")) === col("mun_istat"), "left")
      .join(broadcast(tpf),
        Text.handleId(col("ID_TIPO_PUNTO_FISICO_FK")) === col("tpf_id"), "left")
      .select(
        Seq(
          Text.handleId(col("CLIENTID")).as("id"),
          Text.handleText(col("DENOMINAZIONE")).as("name"),
          Text.handleId(col("ID_STRUTTURA_FK")).as("physical_structure_id"),
          Text.handleText(col("VIA_PIAZZA")).as("street_name"),
          trim(col("CIVICO")).as("street_number"),
          col("CAP").cast("string").as("zip_code"),
          // exact 'S' compare, no trim/case fold — the reference's one
          // strict flag here (src/core.py:463)
          coalesce(col("FLAG_INDIRIZZO_PRINCIPALE") === "S", lit(false))
            .as("is_main_address"),
          col("physical_point_type"),
          col("LATITUDINE").try_cast("decimal(8,2)").as("lat"),
          col("LONGITUDINE").try_cast("decimal(8,2)").as("lon"),
          Text.handleId(col("ID_TOPONIMO_FK")).as("toponym_id"),
          col("municipality_id")) ++ Audit.columns(loadTime): _*)
      .drop("mun_istat", "tpf_id")
  }

  /** `migrate_udos` (`src/core.py:1456-1538`) — the heaviest concrete core
    * pipeline: the full 24-column UDO projection plus the DERIVED company
    * map: sede ⋈ struttura resolves each operational office to its owning
    * company (`src/core.py:1508-1522`), then the stripped-ID_UO join pulls
    * the operational unit (`src/core.py:1524-1530`).
    *
    * The P28 provenance null-out runs in the projection — a
    * PROVENIENZA_UO='ORGANIGRAMMA_TREE' row nulls its uo FK BEFORE the
    * join, so a tree-sourced FK can never match (same discipline as
    * [[users]]). `organigram_node_id` is a typed null: the reference's
    * open TODO link to the poa service (`src/core.py:1500`).
    *
    * Scale shape: udo_model is the fact side; sede/struttura/uo are
    * office/structure-scale dimensions → every right side broadcasts, the
    * fact never shuffles. Documented divergence: join keys normalize
    * through [[Text.handleId]] on BOTH sides (the reference strips only
    * the dimension side of ID_UO, `src/core.py:1525-1528` — a dirty fact
    * key silently misses there). */
  def udos(
      udoModel: DataFrame, sedeOper: DataFrame, struttura: DataFrame,
      uo: DataFrame, loadTime: Column): DataFrame = {
    val base = udoModel.select(
      Seq(
        Text.handleId(col("CLIENTID")).as("id"),
        stripCrLf(col("DESCR")).as("name"),
        coalesce(upper(trim(col("STATO"))), lit("NUOVA")).as("status"),
        stripCrLf(col("ID_UNIVOCO")).as("code"),
        Text.handleId(col("ID_TIPO_UDO_22_FK")).as("udo_type_id"),
        Text.handleId(col("ID_SEDE_FK")).as("operational_office_id"),
        Text.handleId(col("ID_EDIFICIO_STR_FK")).as("building_id"),
        trim(col("PIANO")).as("floor"),
        dashToNull(col("BLOCCO")).as("block"),
        dashToNull(col("PROGRESSIVO")).as("progressive"),
        trim(col("CODICE_FLUSSO_MINISTERIALE")).as("ministerial_code"),
        trim(col("COD_FAR_FAD")).as("farfad_code"),
        yFlag(col("SIO")).as("is_sio"),
        trim(col("STAREP")).as("starep_code"),
        trim(col("CDC")).as("cost_center"),
        trim(col("PAROLE_CHIAVE")).as("keywords"),
        stripCrLf(col("ANNOTATIONS")).as("notes"),
        yFlag(col("WEEK")).as("is_open_only_on_business_days"),
        coalesce(col("AUAC") === 1, lit(false)).as("is_auac"),
        yFlag(col("FLAG_MODULO")).as("is_module"),
        lit(null).cast("string").as("organigram_node_id"),
        when(trim(col("PROVENIENZA_UO")) === "ORGANIGRAMMA_TREE", lit(null))
          .otherwise(Text.strip(col("ID_UO"))).as("uo_fk")) ++ Audit.columns(loadTime): _*)
    val sede = sedeOper.select(
      Text.handleId(col("CLIENTID")).as("oo_id"),
      Text.handleId(col("ID_STRUTTURA_FK")).as("ps_id"))
    val str = struttura.select(
      Text.handleId(col("CLIENTID")).as("ps_id2"),
      Text.handleId(col("ID_TITOLARE_FK")).as("company_id"))
    // the derived map: operational office -> owning company
    val companyMap = sede.join(broadcast(str), col("ps_id") === col("ps_id2"), "left")
      .select(col("oo_id"), col("company_id"))
    val uoTr = uo.select(
      Text.handleId(col("CLIENTID")).as("operational_unit_id"),
      Text.strip(col("ID_UO")).as("uo_id"))
    base
      .join(broadcast(companyMap), col("operational_office_id") === col("oo_id"), "left")
      .join(broadcast(uoTr), col("uo_fk") === col("uo_id"), "left")
      .drop("oo_id", "uo_fk", "uo_id")
  }

  /** `migrate_udo_specialties` (`src/core.py:1576-1656`) — the three-branch
    * diagonal union over the UDO↔specialty bridges:
    *
    *  1. branca rows carry the s-or-y authorized/accredited flags and
    *     typed-null bed counts;
    *  2. branca-altro rows are hard false/false (`src/core.py:1621-1633`);
    *  3. disciplina rows (null-FK rows dropped — the reference's own
    *     questioning TODO, `src/core.py:1638-1641`) carry the four bed
    *     counts + HSP12 verbatim and join uo_model on ID_UO for the
    *     clinical operational unit (`src/core.py:1642-1651`); the selected
    *     PROVENIENZA_UO is dead weight there — dropped unused, replicated
    *     faithfully by never selecting it.
    *
    * Bed counts cast int (the target's smallint family); uo broadcast. */
  def udoSpecialties(
      bindUdoBranca: DataFrame, bindUdoBrancaAltro: DataFrame,
      bindUdoDisciplina: DataFrame, uo: DataFrame): DataFrame = {
    val nullInt = lit(null).cast("int")
    val nullStr = lit(null).cast("string")
    val branca = bindUdoBranca.select(
      ynFlag(col("AUTORIZZATA")).as("is_authorized"),
      ynFlag(col("ACCREDITATA")).as("is_accredited"),
      nullInt.as("num_beds"), nullInt.as("num_extra_beds"),
      nullInt.as("num_mortuary_beds"), nullInt.as("num_accredited_beds"),
      nullStr.as("hsp12"),
      nullStr.as("clinical_operational_unit_id"),
      nullStr.as("clinical_poa_node_id"),
      Text.handleId(col("ID_BRANCA_FK")).as("specialty_id"),
      Text.handleId(col("ID_UDO_FK")).as("udo_id"))
    val brancaAltro = bindUdoBrancaAltro.select(
      lit(false).as("is_authorized"), lit(false).as("is_accredited"),
      nullInt.as("num_beds"), nullInt.as("num_extra_beds"),
      nullInt.as("num_mortuary_beds"), nullInt.as("num_accredited_beds"),
      nullStr.as("hsp12"),
      nullStr.as("clinical_operational_unit_id"),
      nullStr.as("clinical_poa_node_id"),
      Text.handleId(col("ID_ARTIC_BRANCA_ALTRO_FK")).as("specialty_id"),
      Text.handleId(col("ID_UDO_FK")).as("udo_id"))
    val uoTr = uo.select(
      Text.handleId(col("CLIENTID")).as("clinical_operational_unit_id"),
      Text.strip(col("ID_UO")).as("uo_id"))
    val disciplines = bindUdoDisciplina
      .filter(col("ID_DISCIPLINA_FK").isNotNull)
      .select(
        lit(false).as("is_authorized"), lit(false).as("is_accredited"),
        col("POSTI_LETTO").cast("int").as("num_beds"),
        col("POSTI_LETTO_EXTRA").cast("int").as("num_extra_beds"),
        col("POSTI_LETTO_OBI").cast("int").as("num_mortuary_beds"),
        col("POSTI_LETTO_ACC").cast("int").as("num_accredited_beds"),
        trim(col("HSP12")).as("hsp12"),
        nullStr.as("clinical_poa_node_id"),
        Text.handleId(col("ID_DISCIPLINA_FK")).as("specialty_id"),
        Text.handleId(col("ID_UDO_FK")).as("udo_id"),
        Text.strip(col("ID_UO")).as("uo_fk"))
      .join(broadcast(uoTr), col("uo_fk") === col("uo_id"), "left")
      .drop("uo_fk", "uo_id")
    branca.unionByName(brancaAltro)
      .unionByName(disciplines, allowMissingColumns = true)
  }

  /** `migrate_udos_history` (`src/core.py:1692-1800`) → the
    * `udo_status_history` table: status timeline + supply flags from the
    * UDO side + bed counts from the bed history, then the F4 read-back
    * validation against the already-loaded `udos` target.
    *
    * Column semantics pinned from the reference:
    *  - `AUTORIZZATA/ACCREDITATA` collapses to `AUTORIZZATA`
    *    (`src/core.py:1729`);
    *  - created_at/updated_at are the CREATION↔LAST_MOD coalesce chains
    *    with NO Rome→UTC shift — the reference's replace-tz/strip-tz
    *    round-trip (`src/core.py:1713-1722`) is a wall-clock no-op, unlike
    *    its `handle_timestamps` pipelines;
    *  - bed counts are UInt16-pinned strict-null casts then filled to 0,
    *    on BOTH sides of the left join (`src/core.py:1750-1752,1768`);
    *  - the target `id` is dropped — PG generates fresh UUIDs
    *    (`src/core.py:1790-1792`) — AFTER the bed join that consumes it.
    *
    * Read-back validation (`src/core.py:1770-1786`): rows whose udo_id is
    * missing from the loaded `udos` table are dropped via a LEFT SEMI join
    * (no driver-side id list — the reference collects every id into a
    * Python list, which at 100 TB is the exact anti-pattern F4 exists to
    * kill). `udosTarget = None` models the reference's warn-and-continue:
    * validation unavailable → keep everything; the CALLER logs the warn. */
  def udosHistory(
      statoUdo: DataFrame, udoModel: DataFrame, storicoPostiLetto: DataFrame,
      udosTarget: Option[DataFrame]): DataFrame = {
    val statusNorm = upper(trim(col("STATO")))
    val hist = statoUdo.select(
      Text.handleId(col("CLIENTID")).as("hist_id"),
      Text.handleId(col("ID_UDO_FK")).as("udo_id"),
      when(statusNorm === "AUTORIZZATA/ACCREDITATA", "AUTORIZZATA")
        .otherwise(statusNorm).as("status"),
      col("SCADENZA").as("valid_to"),
      col("DATA_INIZIO").as("valid_from"),
      coalesce(col("CREATION"), col("LAST_MOD")).as("created_at"),
      coalesce(col("LAST_MOD"), col("CREATION")).as("updated_at"))
    val supply = udoModel.select(
      Text.handleId(col("CLIENTID")).as("s_udo_id"),
      yFlag(col("EROGAZIONE_DIRETTA")).as("is_direct_supply"),
      yFlag(col("EROGAZIONE_INDIRETTA")).as("is_indirect_supply"))
    val beds = storicoPostiLetto.select(
      Text.handleId(col("ID_STATO_UDO_FK")).as("b_hist_id"),
      coalesce(Casts.tryToUInt(col("PL")), lit(0)).as("beds"),
      coalesce(Casts.tryToUInt(col("PLEX")), lit(0)).as("extra_beds"),
      coalesce(Casts.tryToUInt(col("PLOB")), lit(0)).as("mortuary_beds"))
    // supply is fact-scale-bounded (one row per UDO) but still dimension
    // relative to the history; beds keys on the history id, so it is
    // history-scale — that join shuffles on hist_id, the only shuffle here.
    val joined = hist
      .join(broadcast(supply), col("udo_id") === col("s_udo_id"), "left")
      .join(beds, col("hist_id") === col("b_hist_id"), "left")
      .withColumn("beds", coalesce(col("beds"), lit(0)))
      .withColumn("extra_beds", coalesce(col("extra_beds"), lit(0)))
      .withColumn("mortuary_beds", coalesce(col("mortuary_beds"), lit(0)))
      .drop("s_udo_id", "b_hist_id")
    val validated = udosTarget match {
      case Some(target) =>
        joined.join(
          broadcast(target.select(Text.handleId(col("id")).as("id"))),
          joined("udo_id") === col("id"), "left_semi")
      case None => joined
    }
    validated.drop("hist_id")
  }

  /** Resolutions step 3 (`src/core.py:1022-1043`): duplicate-name
    * disambiguation — first occurrence keeps `name`, later ones get
    * ` (n)`. The reference depends on physical row order; here the keeper
    * order is pinned deterministically by `id` (normalized CLIENTIDs are
    * unique across both branches — SURVEY §2.7's documented divergence). */
  def disambiguateNames(resolutions: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("name")).orderBy(col("id"))
    resolutions
      .withColumn("rn", row_number().over(w))
      .withColumn("name",
        when(col("rn") > 1,
          concat(col("name"), lit(" ("), (col("rn") - 1).cast("string"), lit(")")))
          .otherwise(col("name")))
      .drop("rn")
  }
}
