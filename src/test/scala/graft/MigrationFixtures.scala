package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** Oracle-shaped one-row fixtures for every source the bundled
  * [[Main.registry]] reads: one parquet directory per source table under
  * `in`, plus the seed CSVs under `in/seed`. Shared by the end-to-end
  * dispatch in [[MainSpec]] and the registry read checks in
  * [[PipelineIoSpec]]. */
object MigrationFixtures {
  def write(spark: SparkSession, in: String): Unit = {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-03-01 10:00:00")
    def put(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$in/$name.parquet")

    put("toponimo_templ", Seq(("T1", "Via Roma", t0, t0, "N"))
      .toDF("CLIENTID", "NOME", "CREATION", "LAST_MOD", "DISABLED"))
    put("titolare_model", Seq(
      ("C1", "Osp. Alfa", "Alfa srl", "spa", "CF1", "IVA1", "TR1", "N1", "027042", t0, t0, "N"))
      .toDF("CLIENTID", "DENOMINAZIONE", "RAG_SOC", "FORMA_SOCIETARIA", "CFISC",
        "PIVA", "ID_TIPO_RICH_FK", "ID_NATURA_FK", "COD_COMUNE_ESTESO",
        "CREATION", "LAST_MOD", "DISABLED"))
    put("tipologia_richiedente", Seq(("tr1", "Pubblico")).toDF("CLIENTID", "NOME"))
    put("natura_titolare_templ", Seq(("n1", "AzSan")).toDF("CLIENTID", "NOME"))
    // NO $in/municipalities.parquet fixture: companies/operational_offices/
    // users read the MIGRATED $out target (the seed-CSV load) — a second
    // $in copy here would mask a revert to the drift-prone double-source.
    put("delibera_templ", Seq(
      ("D1", "Delibera annuale", "TD1", "payload-1".getBytes, t0, t0, "N"))
      .toDF("CLIENTID", "NOME", "ID_TIPO_FK", "ALLEGATO", "CREATION", "LAST_MOD", "DISABLED"))
    put("tipo_delibera", Seq(("td1", "Del. Tipo A", t0, t0, "N"))
      .toDF("CLIENTID", "NOME", "CREATION", "LAST_MOD", "DISABLED"))
    put("atto_model", spark.createDataFrame(
      java.util.Arrays.asList(Row("A1", "2024", "7", "TA1", t0, t0, "N")),
      StructType(Seq(
        StructField("CLIENTID", StringType), StructField("ANNO", StringType),
        StructField("NUMERO", StringType), StructField("ID_TIPO_FK", StringType),
        StructField("CREATION", TimestampType), StructField("LAST_MOD", TimestampType),
        StructField("DISABLED", StringType)))))
    put("tipo_atto", Seq(("ta1", "Atto Tipo B", t0, t0, "N"))
      .toDF("CLIENTID", "DESCR", "CREATION", "LAST_MOD", "DISABLED"))
    put("tipo_udo_22_templ", Seq(
      ("T1", "Tipo Uno", "C1", "NC1", "SET", "TGT", "K1", "S", "N", "Y", t0, t0, "N"))
      .toDF("CLIENTID", "DESCR", "CODICE_UDO", "NOME_CODICE_UDO", "SETTING",
        "TARGET", "ID_CLASSIFICAZIONE_UDO_FK", "OSPEDALIERO", "SALUTE_MENTALE",
        "POSTI_LETTO", "CREATION", "LAST_MOD", "DISABLED"))
    put("bind_tipo_22_ambito", Seq(("T1", "A1")).toDF("ID_TIPO_22_FK", "ID_AMBITO_FK"))
    put("ambito_templ", Seq(
      ("a1", "Ambito Uno", "Descr", "S", "N", "N", "N", "N", "N", "N", "N"))
      .toDF("CLIENTID", "NOME", "DESCR", "AGGIUNGI_DISCIPLINE",
        "AGGIUNGI_DISCIPLINE_AZ_SAN", "AGGIUNGI_DISCIPLINE_PUB_PRIV",
        "AGGIUNGI_BRANCHE", "AGGIUNGI_BRANCHE_AZ_SAN", "AGGIUNGI_BRANCHE_PUB_PRIV",
        "AGGIUNGI_PRESTAZIONI", "AGGIUNGI_AMBITO"))
    put("bind_tipo_22_natura", Seq(("T1", "N1")).toDF("ID_TIPO_UDO_22_FK", "ID_NATURA_FK"))
    put("bind_tipo_22_flusso", Seq(("T1", "F1")).toDF("ID_TIPO_UDO_22_FK", "ID_FLUSSO_FK"))
    put("flusso_templ", Seq(("f1", "FLS 21")).toDF("CLIENTID", "NOME"))
    put("utente_model", spark.createDataFrame(
      java.util.Arrays.asList(Row("U1", "AN1", "mrossi", "region", "MANUALE", "UO-7", null)),
      StructType(Seq(
        StructField("CLIENTID", StringType), StructField("ID_ANAGR_FK", StringType),
        StructField("USERNAME_CAS", StringType), StructField("RUOLO", StringType),
        StructField("PROVENIENZA_UO", StringType), StructField("ID_UO", StringType),
        StructField("DATA_DISABILITATO", TimestampType)))))
    put("anagrafica_utente_model", Seq(
      ("AN1", "Mario", "Rossi", "CF-M", "m@x.it", "1980-01-02", "Via A", "3",
        "041", "333", "ID1", "2030-01-01", "Medico", "027042", t0, t0))
      .toDF("CLIENTID", "NOME", "COGNOME", "CFISC", "EMAIL", "DATA_NASCITA",
        "VIA_PIAZZA", "CIVICO", "TELEFONO", "CELLULARE", "CARTA_IDENT_NUM",
        "CARTA_IDENT_SCAD", "PROFESSIONE", "COD_LUOGO_NASCITA", "CREATION", "LAST_MOD"))
    put("uo_model", Seq(("OU7", "UO-7", "CU7", "Unita 7", "descr", "C1", t0, t0, "N"))
      .toDF("CLIENTID", "ID_UO", "COD_UNIVOCO_UO", "DENOMINAZIONE", "DESCR",
        "ID_TITOLARE_FK", "CREATION", "LAST_MOD", "DISABLED"))
    put("disciplina_templ", Seq(
      ("D1", "Chirurgia", 3, "dd", "Osp", "C10", 1, 0, "RG1", "77", t0, t0, "N"))
      .toDF("CLIENTID", "NOME", "ORDINE", "DESCR", "TIPO", "CODICE",
        "PROGRAMMAZIONE", "POA", "ID_RAGG_DISCIPL_TEMPL_FK", "ID_DISCIPLINA",
        "CREATION", "LAST_MOD", "DISABLED"))
    put("branca_templ", Seq(
      ("B1", "Cardiologia", "d", "C01", 1, "10", "N", t0, t0, "N"),
      ("B2", "Altro", "d", "C99", 0, "99", "S", t0, t0, "N"))
      .toDF("CLIENTID", "NOME", "DESCR", "CODICE", "PROGRAMMAZIONE",
        "ID_BRANCA", "IS_ALTRO", "CREATION", "LAST_MOD", "DISABLED"))
    put("artic_branca_altro_templ", Seq(("A1", "Artic", "S1", t0, t0, "N"))
      .toDF("CLIENTID", "DESCR", "SETTING_BRANCA", "CREATION", "LAST_MOD", "DISABLED"))
    put("requisito_templ", Seq(
      ("Q1", "Req", "testo", "note", "S", "N", "S", "Generale", "TG1", "TS1", "R1", t0, t0, "N"))
      .toDF("CLIENTID", "NOME", "TESTO", "ANNOTATIONS", "VALIDATO", "ANNULLATO",
        "IRRINUNCIABILE", "TIPO", "ID_TIPO_REQUISITO_FK",
        "ID_TIPO_SPECIFICO_REQUISITO_FK", "ID_TIPO_RISPOSTA_FK",
        "CREATION", "LAST_MOD", "DISABLED"))
    put("tipo_risposta", Seq(("R1", "Si/No")).toDF("CLIENTID", "NOME"))
    put("domanda_inst", Seq(
      ("P1", "D-1", "CU-1", "CO1", "TP1", "IN CORSO", t0, 30, 60, "N-1", t0, t0))
      .toDF("CLIENTID", "ID_DOMANDA", "CODICE_UNIVOCO_NRECORD", "ID_TITOLARE_FK",
        "ID_TIPO_PROC_FK", "STATO", "DATA_CONCLUSIONE", "DURATA_PROCEDIMENTO",
        "MASSIMA_DURATA_PROCEDIMENTO", "NUMERO_PROCEDIMENTO", "CREATION", "LAST_MOD")
      .withColumn("DATA_INVIO_DOMANDA", col("CREATION"))
      .withColumn("DATA_SCADENZA", col("CREATION")))
    put("tipo_proc_templ", Seq(("TP1", "Autorizzazione")).toDF("CLIENTID", "DESCR"))
    put("azienda_sanitaria", Seq(("HC1", "501", "ULSS Prima"))
      .toDF("CLIENTID", "CODICE", "DESCRIZIONE"))
    // NO $in/ulss.parquet fixture: healthcare_companies joins the $out
    // target with the surrogate id the ulss pipeline mints.
    put("sede_oper_model", Seq(
      ("SO1", "ST1", "Sede Uno", "Via C", "9", "30100", "S", "027042", "TPF1",
        "45.4375", "12.3358", "TOP1", t0, t0, "N"))
      .toDF("CLIENTID", "ID_STRUTTURA_FK", "DENOMINAZIONE", "VIA_PIAZZA",
        "CIVICO", "CAP", "FLAG_INDIRIZZO_PRINCIPALE", "ISTAT",
        "ID_TIPO_PUNTO_FISICO_FK", "LATITUDINE", "LONGITUDINE",
        "ID_TOPONIMO_FK", "CREATION", "LAST_MOD", "DISABLED"))
    put("tipo_punto_fisico_templ", Seq(("TPF1", "Sede Operativa"))
      .toDF("CLIENTID", "NOME"))
    put("struttura_model", Seq(
      ("ST1", "Struttura Uno", "PF1", "PF1b", "DI1", "C1", t0, t0, "N",
        null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("CLIENTID", "DENOMINAZIONE", "CODICE_PF", "CODICE_PF_SECONDARIO",
        "ID_DISTRETTO_FK", "ID_TITOLARE_FK", "CREATION", "LAST_MOD", "DISABLED",
        "ID_FASCICOLO_DOCWAY", "ID_COMPRENSORIO_FK"))
    // 27 columns > Tuple22: build the UDO fixture from a narrow base
    put("udo_model", Seq(
      ("UD1", "Udo Uno", "Attiva", "U-1", "T1", "SO1", "ED1", "2"))
      .toDF("CLIENTID", "DESCR", "STATO", "ID_UNIVOCO", "ID_TIPO_UDO_22_FK",
        "ID_SEDE_FK", "ID_EDIFICIO_STR_FK", "PIANO")
      .withColumn("BLOCCO", lit("-")).withColumn("PROGRESSIVO", lit("P1"))
      .withColumn("CODICE_FLUSSO_MINISTERIALE", lit("F1"))
      .withColumn("COD_FAR_FAD", lit("FF")).withColumn("SIO", lit("Y"))
      .withColumn("STAREP", lit("SR")).withColumn("CDC", lit("CC"))
      .withColumn("PAROLE_CHIAVE", lit("k")).withColumn("ANNOTATIONS", lit("n"))
      .withColumn("WEEK", lit("N")).withColumn("AUAC", lit(1))
      .withColumn("FLAG_MODULO", lit("N"))
      .withColumn("PROVENIENZA_UO", lit("MANUALE"))
      .withColumn("ID_UO", lit("UO-7"))
      .withColumn("EROGAZIONE_DIRETTA", lit("Y"))
      .withColumn("EROGAZIONE_INDIRETTA", lit("N"))
      .withColumn("CREATION", lit(t0)).withColumn("LAST_MOD", lit(t0))
      .withColumn("DISABLED", lit("N")))
    put("stato_udo", Seq(
      ("SU1", "UD1", "AUTORIZZATA/ACCREDITATA", t0, t0, t0, t0),
      ("SU2", "GHOST", "NUOVA", t0, t0, t0, t0)) // orphan -> read-back drop
      .toDF("CLIENTID", "ID_UDO_FK", "STATO", "SCADENZA", "DATA_INIZIO",
        "CREATION", "LAST_MOD"))
    put("storico_posti_letto", Seq(("SU1", "12", "2", "0"))
      .toDF("ID_STATO_UDO_FK", "PL", "PLEX", "PLOB"))
    // seed CSVs (regions/provinces/municipalities/permissions)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$in/seed"))
    def putCsv(name: String, text: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/seed/$name"), text)
    putCsv("regions.csv", "id,name\n5,Veneto\n")
    putCsv("provinces.csv", "id,name,region_id\n27,Venezia,5\n")
    putCsv("municipalities.csv", "id,name,istat_code,province_id\n42,Venezia,027042,27\n")
    putCsv("permissions.csv", "id,name\n1,read\n")
    put("ulss_territoriale", Seq((" ULSS Prima ", "501"))
      .toDF("DESCRIZIONE", "CODICE"))
    put("distretto_templ", Seq(("DI1", "Az-Zero-", "D1", t0, t0, "N"))
      .toDF("CLIENTID", "TITOLARE", "DISTRETTO", "CREATION", "LAST_MOD", "DISABLED"))
    put("tipo_titolare_templ", Seq(("TT1", "Pubblico", "S", "N", t0, t0, "N"))
      .toDF("CLIENTID", "DESCR", "SHOW_DICHIARAZIONE_DIR_SAN",
        "ORGANIGRAMMA_ATTIVO", "CREATION", "LAST_MOD", "DISABLED"))
    put("edificio_str_templ", Seq(
      ("ED1", "Padiglione A", "PA", "ST1", "CF9", "Verdi", "Ugo", "Verdi snc",
        "IVA9", 1, t0, t0, "N", "DW7"))
      .toDF("CLIENTID", "NOME", "CODICE", "ID_STRUTTURA_FK", "CF_DI_PROPRIETA",
        "COGNOME_DI_PROPRIETA", "NOME_DI_PROPRIETA",
        "RAGIONE_SOCIALE_DI_PROPRIETA", "PIVA_DI_PROPRIETA", "FLAG_DI_PROPRIETA",
        "CREATION", "LAST_MOD", "DISABLED", "ID_FASCICOLO_DOCWAY"))
    put("ragg_discpl", Seq(("RG1", "Area Acuti", 1, "MA1", t0, t0, "N"))
      .toDF("CLIENTID", "DENOMINAZIONE", "ORDINE", "ID_MACROAREA_FK",
        "CREATION", "LAST_MOD", "DISABLED"))
    put("macroarea_programmazione", Seq(("MA1", "Acuti")).toDF("CLIENTID", "NOME"))
    put("tipo_fattore_prod_templ", Seq(("TF1", "Posti letto", "PL  area", "STR", t0, t0, "N"))
      .toDF("CLIENTID", "NOME", "DESCR", "TIPOLOGIA_FATT_PROD",
        "CREATION", "LAST_MOD", "DISABLED"))
    put("fatt_prod_udo_model", Seq(("FP1", "TF1", "12", "Stanza 1", "?", "RC", t0, t0, "N"))
      .toDF("CLIENTID", "ID_TIPO_FK", "VALORE", "VALORE2", "VALORE3", "DESCR",
        "CREATION", "LAST_MOD", "DISABLED"))
    put("classificazione_udo_templ", Seq(("CU1", "Ospedaliera", t0, t0, "N"))
      .toDF("CLIENTID", "NOME", "CREATION", "LAST_MOD", "DISABLED"))
    put("operatore_model", Seq(("OP1", "U1", "C1", t0, t0, "N"))
      .toDF("CLIENTID", "ID_UTENTE_FK", "ID_TITOLARE_FK", "CREATION", "LAST_MOD", "DISABLED"))
    put("bind_udo_fatt_prod", Seq(("FP1", "UD1")).toDF("ID_FATTORE_FK", "ID_UDO_FK"))
    put("bind_tipo_22_tipo_fatt", Seq(("T1", "TF1")).toDF("ID_TIPO_UDO_22_FK", "ID_TIPO_FATT_FK"))
    put("bind_atto_udo", Seq(("UD1", "A1")).toDF("ID_UDO_FK", "ID_ATTO_FK"))
    put("bind_udo_branca", Seq(("S", "N", "B1", "UD1"))
      .toDF("AUTORIZZATA", "ACCREDITATA", "ID_BRANCA_FK", "ID_UDO_FK"))
    put("bind_udo_branca_altro", Seq(("A1", "UD1"))
      .toDF("ID_ARTIC_BRANCA_ALTRO_FK", "ID_UDO_FK"))
    put("bind_udo_disciplina", Seq(
      ("D1", "UD1", 4, 1, 0, 2, "H12", "UO-7", "MANUALE"),
      (null.asInstanceOf[String], "UD1", 0, 0, 0, 0, null.asInstanceOf[String],
        null.asInstanceOf[String], null.asInstanceOf[String])) // null FK row drops
      .toDF("ID_DISCIPLINA_FK", "ID_UDO_FK", "POSTI_LETTO", "POSTI_LETTO_EXTRA",
        "POSTI_LETTO_OBI", "POSTI_LETTO_ACC", "HSP12", "ID_UO", "PROVENIENZA_UO"))
    put("tipo_requisito", Seq(
      ("TG1", "Generale", t0, t0), ("TG2", "Ignorato", t0, t0))
      .toDF("CLIENTID", "NOME", "CREATION", "LAST_MOD"))
    put("tipo_specifico_requisito", Seq(("TS1", "Strutturale", t0, t0))
      .toDF("CLIENTID", "NOME", "CREATION", "LAST_MOD"))
    put("lista_requisiti_templ", Seq(("LR1", "Lista 1", "D1", t0, t0, "N"))
      .toDF("CLIENTID", "NOME", "ID_DELIBERA_TEMPL", "CREATION", "LAST_MOD", "DISABLED"))
    put("classificazione_programmazione", Seq(("CP1", "Cronos  A")).toDF("CLIENTID", "NOME"))
    put("classificazione_dm_70", Seq(("DM1", "DM Uno")).toDF("CLIENTID", "NOME"))
  }
}
