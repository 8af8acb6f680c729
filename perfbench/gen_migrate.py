#!/usr/bin/env python3
"""Seeded generator of the Oracle-shaped sources the migration DAG reads.

Writes one parquet file per source table that `graft.Main.registry` reads
(column names and types as in FIXTURES.md section A), the four seed CSVs
under `seed/`, and `expected.json`: the row count each target table must
have, the foreign-key orphan counts the checks expect, and the md5 of every
attachment payload. `size` is the number of UDO rows; every other table
scales from it.

Dirty values are deliberate: stray whitespace and case in ids, embedded
newlines and NUL bytes in free text, "" and "?" in numeric text columns,
unmapped enum values, DST-ambiguous Europe/Rome timestamps, duplicate
resolution names and null-FK bind rows. Foreign keys hit their parent at
fixed rates; the misses are orphans whose count is predicted.

Usage: python3 gen_migrate.py <out_dir> <seed> <size>
"""
import csv
import datetime as dt
import hashlib
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# Characters graft.transforms.Text.strip removes at both ends (a subset of
# its [\t-\r\u0085\p{Z}] class is all the generator ever emits).
WS = "\t\n\x0b\x0c\r\x85   　"
STR, INT, TS, BIN = pa.string(), pa.int32(), pa.timestamp("us", tz="UTC"), pa.binary()


def norm_id(s):
    """Python twin of Text.handleId: strip + lowercase."""
    return None if s is None else s.strip(WS).lower()


class Gen:
    def __init__(self, seed):
        self.r = random.Random(seed)

    def chance(self, p):
        return self.r.random() < p

    def dirty(self, s):
        """An id as the source holds it: mostly clean, sometimes padded or
        upper-cased (the same key after normalization)."""
        x = self.r.random()
        if x < 0.6:
            return s
        if x < 0.75:
            return s.upper()
        if x < 0.9:
            return f"  {s} "
        return "\t" + s + " "

    def fk(self, parents, p_hit, prefix):
        """A foreign key that hits one of `parents` (normalized ids) with
        probability p_hit; otherwise an orphan no parent has."""
        if self.chance(p_hit):
            return self.dirty(self.r.choice(parents))
        return self.dirty(f"{prefix}-orphan-{self.r.randrange(10**9)}")

    def ts(self, p_null=0.03):
        """Naive Europe/Rome wall-clock time (stored as UTC digits, as a JDBC
        read into a UTC session yields); a few fall in the ambiguous hour
        of the October 2023 DST change."""
        if self.chance(p_null):
            return None
        if self.chance(0.05):
            return dt.datetime(2023, 10, 29, 2, self.r.randrange(60), self.r.randrange(60),
                               tzinfo=dt.timezone.utc)
        base = dt.datetime(2015, 1, 1, tzinfo=dt.timezone.utc)
        return base + dt.timedelta(seconds=self.r.randrange(9 * 365 * 86400))

    def flag(self, values=("S", "N", "s", "y", "Y", "N", None)):
        return self.r.choice(values)

    def text(self, words, n_min=1, n_max=4):
        return " ".join(self.r.choice(words) for _ in range(self.r.randint(n_min, n_max)))


WORDS = ["Ospedale", "Centro", "Servizio", "Unita", "Distretto", "Area", "Nord",
         "Sud", "Est", "Ovest", "Medica", "Chirurgica", "Riabilitazione", "Presidio",
         "Ambulatorio", "Veneto", "Padova", "Verona", "Treviso", "Rovigo"]


def audit(g):
    return {"CREATION": g.ts(), "LAST_MOD": g.ts(),
            "DISABLED": g.flag(("S", "N", "N", "N", " s ", None))}


def ids(prefix, n):
    return [f"{prefix}-{i:06d}" for i in range(n)]


def generate(out_dir, seed, size):
    g = Gen(seed)
    r = g.r
    S = max(200, int(size))
    T = {}            # table -> list of row dicts
    schema = {}       # table -> {column: type}
    exp = {}          # target -> expected row count
    orphans = {}      # "child.col->parent.col" -> expected orphan rows

    def table(name, cols, rows):
        schema[name] = cols
        T[name] = rows

    audit_cols = {"CREATION": TS, "LAST_MOD": TS, "DISABLED": STR}

    # ---- seed CSVs --------------------------------------------------------
    n_mun = 300
    regions = [{"id": 5, "name": "Veneto"}, {"id": 6, "name": "Friuli"}]
    provinces = [{"id": 20 + i, "name": f"Provincia {i}", "region_id": 5 + i % 2}
                 for i in range(8)]
    istat = [f"0{27000 + i:05d}"[-6:] for i in range(n_mun)]
    municipalities = [{"id": 1000 + i, "name": f"Comune {i}", "istat_code": istat[i],
                       "province_id": 20 + i % 8} for i in range(n_mun)]
    permissions = [{"id": i + 1, "name": f"perm_{i}"} for i in range(12)]
    seeds = {"regions.csv": regions, "provinces.csv": provinces,
             "municipalities.csv": municipalities, "permissions.csv": permissions}
    for csv_name, rows in seeds.items():
        exp[csv_name[:-4]] = len(rows)

    # ---- small dimensions ---------------------------------------------------
    topo = ids("TOP", S // 10)
    table("toponimo_templ", {"CLIENTID": STR, "NOME": STR, **audit_cols},
          [{"CLIENTID": g.dirty(t), "NOME": "  Via " + g.text(WORDS, 1, 2) + " ", **audit(g)}
           for t in topo])
    exp["toponyms"] = len(topo)

    tr = ids("tr", 5)
    table("tipologia_richiedente", {"CLIENTID": STR, "NOME": STR},
          [{"CLIENTID": g.dirty(x), "NOME": f"Richiedente {i}"} for i, x in enumerate(tr)])
    nat = ["n-pub", "n-pri", "n-azsan"]
    table("natura_titolare_templ", {"CLIENTID": STR, "NOME": STR},
          [{"CLIENTID": g.dirty(x), "NOME": n} for x, n in zip(nat, ["Pub", "Pri", "AzSan"])])

    comp = ids("c", max(20, S // 5))
    forms = ["s.r.l.", "S.P.A ", " srl", "spa", "s.n.c.", "s.a.s.", "Ditta Individuale",
             "associazione", "fondazione", "cooperativa", None]
    table("titolare_model", {
        "CLIENTID": STR, "DENOMINAZIONE": STR, "RAG_SOC": STR, "FORMA_SOCIETARIA": STR,
        "CFISC": STR, "PIVA": STR, "ID_TIPO_RICH_FK": STR, "ID_NATURA_FK": STR,
        "COD_COMUNE_ESTESO": STR, **audit_cols},
        [{"CLIENTID": g.dirty(c), "DENOMINAZIONE": " " + g.text(WORDS) + "  ",
          "RAG_SOC": g.text(WORDS) + " srl", "FORMA_SOCIETARIA": r.choice(forms),
          "CFISC": f" CF{r.randrange(10**8):08d}", "PIVA": f"{r.randrange(10**11):011d} ",
          "ID_TIPO_RICH_FK": g.fk(tr, 0.9, "tr"), "ID_NATURA_FK": g.fk(nat, 0.95, "n"),
          "COD_COMUNE_ESTESO": (r.choice(istat) if g.chance(0.9) else "099999") +
          (" " if g.chance(0.2) else ""), **audit(g)} for c in comp])
    exp["companies"] = len(comp)

    td = ids("td", 8)
    ta = ids("ta", 8)
    td_names = [f"Delibera tipo {i}" for i in range(8)]
    ta_names = [f"Atto tipo {i}" for i in range(6)] + ["DELIBERA TIPO 1", " delibera tipo 2 "]
    table("tipo_delibera", {"CLIENTID": STR, "NOME": STR, **audit_cols},
          [{"CLIENTID": g.dirty(x), "NOME": n, **audit(g)} for x, n in zip(td, td_names)])
    table("tipo_atto", {"CLIENTID": STR, "DESCR": STR, **audit_cols},
          [{"CLIENTID": g.dirty(x), "DESCR": n, **audit(g)} for x, n in zip(ta, ta_names)])
    exp["resolution_types"] = len({n.strip(" ").upper() for n in td_names + ta_names})

    # ---- resolutions: delibera (with attachments) + atto ---------------------
    n_del = max(20, S // 4)
    dl = ids("d", n_del)
    names = [f"Delibera {i} del {2010 + i % 14}" for i in range(n_del)]
    exts = [".pdf", ".pdf", ".xml", ".txt", ".csv", ".json", ".png", ".zip", ".bin", ""]
    attachments = {}
    del_rows = []
    for i, d in enumerate(dl):
        name = names[r.randrange(i)] if i > 0 and g.chance(0.05) else names[i]
        name += r.choice(exts)
        if g.chance(0.05):
            name = name.replace("Delibera", "Deliberazione è")
        payload = None
        if g.chance(0.6):
            x = r.random()
            n = (r.randint(100_000, 200_000) if x < 0.01 else
                 r.randint(5_000, 20_000) if x < 0.21 else r.randint(200, 2_000))
            payload = r.randbytes(n)
            attachments[d] = hashlib.md5(payload).hexdigest()
        del_rows.append({"CLIENTID": g.dirty(d), "NOME": name, "ID_TIPO_FK": g.fk(td, 0.9, "td"),
                         "ALLEGATO": payload, **audit(g)})
    table("delibera_templ", {"CLIENTID": STR, "NOME": STR, "ID_TIPO_FK": STR, "ALLEGATO": BIN,
                             **audit_cols}, del_rows)
    at = ids("a", max(20, S // 4))
    table("atto_model", {"CLIENTID": STR, "ANNO": STR, "NUMERO": STR, "ID_TIPO_FK": STR,
                         **audit_cols},
          [{"CLIENTID": g.dirty(a), "ANNO": f" {2005 + r.randrange(19)}",
            "NUMERO": str(r.randrange(1, 999)) if g.chance(0.97) else None,
            "ID_TIPO_FK": g.fk(ta, 0.9, "ta"), **audit(g)} for a in at])
    exp["resolutions"] = len(dl) + len(at)

    # ---- UDO type family -------------------------------------------------------
    cu = ids("cu", 10)
    table("classificazione_udo_templ", {"CLIENTID": STR, "NOME": STR, **audit_cols},
          [{"CLIENTID": g.dirty(x), "NOME": f" Classe {i}", **audit(g)} for i, x in enumerate(cu)])
    exp["udo_type_classifications"] = len(cu)
    amb = ids("amb", 30)
    amb_named = amb[:27]           # the last three have null/empty/blank names
    amb_rows = []
    for i, a in enumerate(amb):
        nome = [None, "", "   "][i - 27] if i >= 27 else f"Ambito {i}"
        amb_rows.append({"CLIENTID": g.dirty(a), "NOME": nome, "DESCR": g.text(WORDS),
                         **{c: g.flag() for c in [
                             "AGGIUNGI_DISCIPLINE", "AGGIUNGI_DISCIPLINE_AZ_SAN",
                             "AGGIUNGI_DISCIPLINE_PUB_PRIV", "AGGIUNGI_BRANCHE",
                             "AGGIUNGI_BRANCHE_AZ_SAN", "AGGIUNGI_BRANCHE_PUB_PRIV",
                             "AGGIUNGI_PRESTAZIONI", "AGGIUNGI_AMBITO"]}})
    table("ambito_templ", {"CLIENTID": STR, "NOME": STR, "DESCR": STR, **{c: STR for c in [
        "AGGIUNGI_DISCIPLINE", "AGGIUNGI_DISCIPLINE_AZ_SAN", "AGGIUNGI_DISCIPLINE_PUB_PRIV",
        "AGGIUNGI_BRANCHE", "AGGIUNGI_BRANCHE_AZ_SAN", "AGGIUNGI_BRANCHE_PUB_PRIV",
        "AGGIUNGI_PRESTAZIONI", "AGGIUNGI_AMBITO"]}}, amb_rows)
    tipo = ids("t22", 200)
    table("tipo_udo_22_templ", {
        "CLIENTID": STR, "DESCR": STR, "CODICE_UDO": STR, "NOME_CODICE_UDO": STR,
        "SETTING": STR, "TARGET": STR, "ID_CLASSIFICAZIONE_UDO_FK": STR, "OSPEDALIERO": STR,
        "SALUTE_MENTALE": STR, "POSTI_LETTO": STR, **audit_cols},
        [{"CLIENTID": g.dirty(t), "DESCR": g.text(WORDS) + "\x00" * g.chance(0.05),
          "CODICE_UDO": f" U{i:03d}", "NOME_CODICE_UDO": f"Codice {i}", "SETTING": "SET ",
          "TARGET": " TGT", "ID_CLASSIFICAZIONE_UDO_FK": g.fk(cu, 0.95, "cu"),
          "OSPEDALIERO": g.flag(), "SALUTE_MENTALE": g.flag(), "POSTI_LETTO": g.flag(),
          **audit(g)} for i, t in enumerate(tipo)])
    bind_amb, n_udo_types = [], 0
    for t in tipo:
        # every type has one named scope; some get a second (named, blank or
        # dangling) — each named match is one udo_types row
        picks = [r.choice(amb_named)]
        if g.chance(0.3):
            picks.append(r.choice(amb) if g.chance(0.8) else "amb-orphan")
        for a in picks:
            bind_amb.append({"ID_TIPO_22_FK": g.dirty(t), "ID_AMBITO_FK": g.dirty(a)})
            n_udo_types += a in amb_named
    table("bind_tipo_22_ambito", {"ID_TIPO_22_FK": STR, "ID_AMBITO_FK": STR}, bind_amb)
    exp["udo_types"] = n_udo_types
    table("bind_tipo_22_natura", {"ID_TIPO_UDO_22_FK": STR, "ID_NATURA_FK": STR},
          [{"ID_TIPO_UDO_22_FK": g.dirty(t), "ID_NATURA_FK": g.fk(nat, 0.9, "n")}
           for t in tipo for _ in range(r.randint(0, 3))])
    fl = ids("f", 10)
    table("flusso_templ", {"CLIENTID": STR, "NOME": STR},
          [{"CLIENTID": g.dirty(f), "NOME": f"FLS {i}." if i % 2 else f" FLS  {i} "}
           for i, f in enumerate(fl)])
    table("bind_tipo_22_flusso", {"ID_TIPO_UDO_22_FK": STR, "ID_FLUSSO_FK": STR},
          [{"ID_TIPO_UDO_22_FK": g.dirty(t), "ID_FLUSSO_FK": g.fk(fl, 0.95, "f")}
           for t in tipo for _ in range(r.randint(0, 2))])

    # ---- structures, offices, units ------------------------------------------
    di = ids("di", 50)
    table("distretto_templ", {"CLIENTID": STR, "TITOLARE": STR, "DISTRETTO": STR, **audit_cols},
          [{"CLIENTID": g.dirty(x), "TITOLARE": f"Az-{r.choice(WORDS)}-" if g.chance(0.5)
            else f" Az-{r.choice(WORDS)}", "DISTRETTO": f"D{i}", **audit(g)}
           for i, x in enumerate(di)])
    exp["districts"] = len(di)
    st = ids("st", max(20, S // 10))
    table("struttura_model", {
        "CLIENTID": STR, "DENOMINAZIONE": STR, "CODICE_PF": STR, "CODICE_PF_SECONDARIO": STR,
        "ID_DISTRETTO_FK": STR, "ID_TITOLARE_FK": STR, **audit_cols,
        "ID_FASCICOLO_DOCWAY": STR, "ID_COMPRENSORIO_FK": STR},
        [{"CLIENTID": g.dirty(s), "DENOMINAZIONE": g.text(WORDS), "CODICE_PF": f"PF{i}",
          "CODICE_PF_SECONDARIO": f"PF{i}b " if g.chance(0.5) else None,
          "ID_DISTRETTO_FK": g.fk(di, 0.95, "di"), "ID_TITOLARE_FK": g.fk(comp, 0.97, "c"),
          **audit(g), "ID_FASCICOLO_DOCWAY": f"DW{i}" if g.chance(0.4) else None,
          "ID_COMPRENSORIO_FK": f"CO{i % 7}" if g.chance(0.3) else None}
         for i, s in enumerate(st)])
    exp["physical_structures"] = len(st)
    tpf = ids("tpf", 5)
    table("tipo_punto_fisico_templ", {"CLIENTID": STR, "NOME": STR},
          [{"CLIENTID": g.dirty(x), "NOME": f" Punto {i}"} for i, x in enumerate(tpf)])
    so = ids("so", max(20, S // 4))
    table("sede_oper_model", {
        "CLIENTID": STR, "ID_STRUTTURA_FK": STR, "DENOMINAZIONE": STR, "VIA_PIAZZA": STR,
        "CIVICO": STR, "CAP": STR, "FLAG_INDIRIZZO_PRINCIPALE": STR, "ISTAT": STR,
        "ID_TIPO_PUNTO_FISICO_FK": STR, "LATITUDINE": STR, "LONGITUDINE": STR,
        "ID_TOPONIMO_FK": STR, **audit_cols},
        [{"CLIENTID": g.dirty(x), "ID_STRUTTURA_FK": g.fk(st, 0.97, "st"),
          "DENOMINAZIONE": "Sede  " + g.text(WORDS), "VIA_PIAZZA": "Via " + g.text(WORDS, 1, 2),
          "CIVICO": f" {r.randint(1, 200)}", "CAP": f"3{r.randrange(10000):04d}",
          "FLAG_INDIRIZZO_PRINCIPALE": r.choice(["S", "N", "s", None]),
          "ISTAT": r.choice(istat) if g.chance(0.92) else "099998",
          "ID_TIPO_PUNTO_FISICO_FK": g.fk(tpf, 0.9, "tpf"),
          "LATITUDINE": f"{45 + r.random():.5f}" if g.chance(0.95) else "n/d",
          "LONGITUDINE": f"{11 + r.random():.5f}" if g.chance(0.95) else "",
          "ID_TOPONIMO_FK": g.fk(topo, 0.9, "top"), **audit(g)} for x in so])
    exp["operational_offices"] = len(so)
    ed = ids("ed", max(20, S // 5))
    table("edificio_str_templ", {
        "CLIENTID": STR, "NOME": STR, "CODICE": STR, "ID_STRUTTURA_FK": STR,
        "CF_DI_PROPRIETA": STR, "COGNOME_DI_PROPRIETA": STR, "NOME_DI_PROPRIETA": STR,
        "RAGIONE_SOCIALE_DI_PROPRIETA": STR, "PIVA_DI_PROPRIETA": STR,
        "FLAG_DI_PROPRIETA": INT, **audit_cols, "ID_FASCICOLO_DOCWAY": STR},
        [{"CLIENTID": g.dirty(x), "NOME": f"Padiglione {i} ", "CODICE": f" P{i}",
          "ID_STRUTTURA_FK": g.fk(st, 0.97, "st"), "CF_DI_PROPRIETA": f"CF{i}",
          "COGNOME_DI_PROPRIETA": r.choice(WORDS), "NOME_DI_PROPRIETA": r.choice(WORDS),
          "RAGIONE_SOCIALE_DI_PROPRIETA": g.text(WORDS) + " snc",
          "PIVA_DI_PROPRIETA": f"IVA{i}", "FLAG_DI_PROPRIETA": r.choice([1, 0, None]),
          **audit(g), "ID_FASCICOLO_DOCWAY": f"DW{i}" if g.chance(0.5) else None}
         for i, x in enumerate(ed)])
    exp["buildings"] = len(ed)
    uo = ids("ou", max(20, S // 20))
    uo_codes = [f"UO-{i}" for i in range(len(uo))]
    table("uo_model", {"CLIENTID": STR, "ID_UO": STR, "COD_UNIVOCO_UO": STR,
                       "DENOMINAZIONE": STR, "DESCR": STR, "ID_TITOLARE_FK": STR, **audit_cols},
          [{"CLIENTID": g.dirty(x), "ID_UO": " " + code if g.chance(0.2) else code,
            "COD_UNIVOCO_UO": f"CU{i}", "DENOMINAZIONE": f" Unita {i}", "DESCR": g.text(WORDS),
            "ID_TITOLARE_FK": g.fk(comp, 0.95, "c"), **audit(g)}
           for i, (x, code) in enumerate(zip(uo, uo_codes))])
    exp["operational_units"] = len(uo)

    # ---- the UDO fact and its bridges ------------------------------------------
    udo = ids("ud", S)
    udo_rows = []
    for i, u in enumerate(udo):
        udo_rows.append({
            "CLIENTID": g.dirty(u),
            "DESCR": g.text(WORDS) + r.choice(["", "\n", "\r\n", " \n riga due"]),
            "STATO": r.choice(["Attiva", " attiva", "SOSPESA", None, "chiusa "]),
            "ID_UNIVOCO": f"U-{i}\n" if g.chance(0.05) else f"U-{i}",
            "ID_TIPO_UDO_22_FK": g.fk(tipo, 0.96, "t22"), "ID_SEDE_FK": g.fk(so, 0.97, "so"),
            "ID_EDIFICIO_STR_FK": g.fk(ed, 0.95, "ed"), "PIANO": f" {r.randint(0, 6)}",
            "BLOCCO": r.choice(["-", " - ", "A", "B", None]),
            "PROGRESSIVO": r.choice(["-", f"P{i % 30}"]),
            "CODICE_FLUSSO_MINISTERIALE": f"F{i % 40} ", "COD_FAR_FAD": "FF",
            "SIO": r.choice(["y", "Y", " y", "n", None]), "STAREP": "SR", "CDC": f"CC{i % 9}",
            "PAROLE_CHIAVE": g.text(WORDS, 0, 3), "ANNOTATIONS": g.text(WORDS) + "\r",
            "WEEK": r.choice(["y", "n", None]), "AUAC": r.choice([1, 0, None]),
            "FLAG_MODULO": r.choice(["y", "n"]),
            "PROVENIENZA_UO": r.choice(["MANUALE", "ORGANIGRAMMA_TREE", None]),
            "ID_UO": r.choice(uo_codes) if g.chance(0.85) else "UO-missing",
            "EROGAZIONE_DIRETTA": r.choice(["y", "n", None]),
            "EROGAZIONE_INDIRETTA": r.choice(["y", "n"]), **audit(g)})
    table("udo_model", {
        "CLIENTID": STR, "DESCR": STR, "STATO": STR, "ID_UNIVOCO": STR,
        "ID_TIPO_UDO_22_FK": STR, "ID_SEDE_FK": STR, "ID_EDIFICIO_STR_FK": STR, "PIANO": STR,
        "BLOCCO": STR, "PROGRESSIVO": STR, "CODICE_FLUSSO_MINISTERIALE": STR,
        "COD_FAR_FAD": STR, "SIO": STR, "STAREP": STR, "CDC": STR, "PAROLE_CHIAVE": STR,
        "ANNOTATIONS": STR, "WEEK": STR, "AUAC": INT, "FLAG_MODULO": STR,
        "PROVENIENZA_UO": STR, "ID_UO": STR, "EROGAZIONE_DIRETTA": STR,
        "EROGAZIONE_INDIRETTA": STR, **audit_cols}, udo_rows)
    exp["udos"] = len(udo)
    udo_set = set(udo)
    tipo_set, so_set = set(tipo), set(so)
    orphans["udos.udo_type_id->udo_types.id"] = sum(
        norm_id(x["ID_TIPO_UDO_22_FK"]) not in tipo_set for x in udo_rows)
    orphans["udos.operational_office_id->operational_offices.id"] = sum(
        norm_id(x["ID_SEDE_FK"]) not in so_set for x in udo_rows)

    su_rows, hist_ok = [], 0
    for i in range(2 * S):
        fk = g.fk(udo, 0.9, "ud")
        hist_ok += norm_id(fk) in udo_set
        su_rows.append({"CLIENTID": g.dirty(f"su-{i:07d}"), "ID_UDO_FK": fk,
                        "STATO": r.choice(["AUTORIZZATA/ACCREDITATA", "autorizzata", "NUOVA",
                                           " revocata ", "ACCREDITATA"]),
                        "SCADENZA": g.ts(0.2), "DATA_INIZIO": g.ts(0.05),
                        "CREATION": g.ts(0.1), "LAST_MOD": g.ts(0.1)})
    table("stato_udo", {"CLIENTID": STR, "ID_UDO_FK": STR, "STATO": STR, "SCADENZA": TS,
                        "DATA_INIZIO": TS, "CREATION": TS, "LAST_MOD": TS}, su_rows)
    exp["udo_status_history"] = hist_ok
    table("storico_posti_letto", {"ID_STATO_UDO_FK": STR, "PL": STR, "PLEX": STR, "PLOB": STR},
          [{"ID_STATO_UDO_FK": g.dirty(f"su-{i:07d}"),
            "PL": r.choice([str(r.randint(0, 40)), "", "?", "n/d", "70000", None]),
            "PLEX": str(r.randint(0, 5)), "PLOB": r.choice(["0", "1", " 2 ", "x"])}
           for i in range(2 * S) if g.chance(0.8)])

    tf = ids("tf", 30)
    table("tipo_fattore_prod_templ", {"CLIENTID": STR, "NOME": STR, "DESCR": STR,
                                      "TIPOLOGIA_FATT_PROD": STR, **audit_cols},
          [{"CLIENTID": g.dirty(x), "NOME": f" Fattore {i}", "DESCR": "PL  area\x00",
            "TIPOLOGIA_FATT_PROD": r.choice(["STR", "ORG ", "TEC"]), **audit(g)}
           for i, x in enumerate(tf)])
    exp["production_factor_types"] = len(tf)
    fp = ids("fp", S)
    table("fatt_prod_udo_model", {"CLIENTID": STR, "ID_TIPO_FK": STR, "VALORE": STR,
                                  "VALORE2": STR, "VALORE3": STR, "DESCR": STR, **audit_cols},
          [{"CLIENTID": g.dirty(x), "ID_TIPO_FK": g.fk(tf, 0.95, "tf"),
            "VALORE": r.choice([str(r.randint(0, 50)), "", "?", " 7 ", None]),
            "VALORE2": r.choice(["Stanza 1", "NUL", "Sala\x00 2", None]),
            "VALORE3": r.choice(["?", "", "3", "12"]),
            "DESCR": r.choice(["RC", "R\x00C", "NUL", " ab  cd "]), **audit(g)} for x in fp])
    exp["production_factors"] = len(fp)
    table("bind_udo_fatt_prod", {"ID_FATTORE_FK": STR, "ID_UDO_FK": STR},
          [{"ID_FATTORE_FK": g.fk(fp, 0.98, "fp"), "ID_UDO_FK": g.fk(udo, 0.98, "ud")}
           for _ in range(S)])
    exp["udo_production_factors"] = S
    rows = [{"ID_TIPO_UDO_22_FK": g.fk(tipo, 0.97, "t22"), "ID_TIPO_FATT_FK": g.fk(tf, 0.97, "tf")}
            for _ in range(300)]
    table("bind_tipo_22_tipo_fatt", {"ID_TIPO_UDO_22_FK": STR, "ID_TIPO_FATT_FK": STR}, rows)
    exp["udo_type_production_factor_types"] = len(rows)
    res_ids = dl + at
    rows = [{"ID_UDO_FK": g.fk(udo, 0.98, "ud"), "ID_ATTO_FK": g.fk(res_ids, 0.97, "a")}
            for _ in range(max(20, S // 2))]
    table("bind_atto_udo", {"ID_UDO_FK": STR, "ID_ATTO_FK": STR}, rows)
    exp["udo_resolutions"] = len(rows)
    res_set = set(res_ids)
    orphans["udo_resolutions.resolution_id->resolutions.id"] = sum(
        norm_id(x["ID_ATTO_FK"]) not in res_set for x in rows)

    # ---- specialties and UDO specialties ------------------------------------------
    ma = ids("ma", 5)
    table("macroarea_programmazione", {"CLIENTID": STR, "NOME": STR},
          [{"CLIENTID": g.dirty(x), "NOME": n} for x, n in zip(
              ma, ["Acuti", " riabilitazione", "Intermedie", "territoriale ", "Altro"])])
    rg = ids("rg", 20)
    table("ragg_discpl", {"CLIENTID": STR, "DENOMINAZIONE": STR, "ORDINE": INT,
                          "ID_MACROAREA_FK": STR, **audit_cols},
          [{"CLIENTID": g.dirty(x), "DENOMINAZIONE": f" Area {i}", "ORDINE": i,
            "ID_MACROAREA_FK": g.fk(ma, 0.9, "ma"), **audit(g)} for i, x in enumerate(rg)])
    exp["grouping_specialties"] = len(rg)
    dis = ids("dis", 100)
    table("disciplina_templ", {
        "CLIENTID": STR, "NOME": STR, "ORDINE": INT, "DESCR": STR, "TIPO": STR, "CODICE": STR,
        "PROGRAMMAZIONE": INT, "POA": INT, "ID_RAGG_DISCIPL_TEMPL_FK": STR,
        "ID_DISCIPLINA": STR, **audit_cols},
        [{"CLIENTID": g.dirty(x), "NOME": f"Disciplina  {i}", "ORDINE": i,
          "DESCR": g.text(WORDS), "TIPO": r.choice(["Osp", "ter", "TERR", "nonosp", "alt",
                                                    "ignota", None]),
          "CODICE": f" C{i:02d}", "PROGRAMMAZIONE": r.choice([1, 0, None]),
          "POA": r.choice([1, 0]), "ID_RAGG_DISCIPL_TEMPL_FK": g.fk(rg, 0.95, "rg"),
          "ID_DISCIPLINA": str(100 + i), **audit(g)} for i, x in enumerate(dis)])
    br = ids("br", 60)
    table("branca_templ", {"CLIENTID": STR, "NOME": STR, "DESCR": STR, "CODICE": STR,
                           "PROGRAMMAZIONE": INT, "ID_BRANCA": STR, "IS_ALTRO": STR,
                           **audit_cols},
          [{"CLIENTID": g.dirty(x), "NOME": f"Branca {i}", "DESCR": g.text(WORDS)
            if g.chance(0.8) else None, "CODICE": f"B{i:02d}", "PROGRAMMAZIONE": r.choice([1, 0]),
            "ID_BRANCA": str(i), "IS_ALTRO": " S " if i == 7 else r.choice(["N", None]),
            **audit(g)} for i, x in enumerate(br)])
    aba = ids("aba", 20)
    table("artic_branca_altro_templ", {"CLIENTID": STR, "DESCR": STR, "SETTING_BRANCA": STR,
                                       **audit_cols},
          [{"CLIENTID": g.dirty(x), "DESCR": f"Artic {i}" if g.chance(0.9) else None,
            "SETTING_BRANCA": f"S{i % 3}", **audit(g)} for i, x in enumerate(aba)])
    exp["specialties"] = len(dis) + len(br) + len(aba)
    b1 = [{"AUTORIZZATA": g.flag(), "ACCREDITATA": g.flag(), "ID_BRANCA_FK": g.fk(br, 0.97, "br"),
           "ID_UDO_FK": g.fk(udo, 0.98, "ud")} for _ in range(S)]
    table("bind_udo_branca", {"AUTORIZZATA": STR, "ACCREDITATA": STR, "ID_BRANCA_FK": STR,
                              "ID_UDO_FK": STR}, b1)
    b2 = [{"ID_ARTIC_BRANCA_ALTRO_FK": g.fk(aba, 0.97, "aba"), "ID_UDO_FK": g.fk(udo, 0.98, "ud")}
          for _ in range(max(10, S // 5))]
    table("bind_udo_branca_altro", {"ID_ARTIC_BRANCA_ALTRO_FK": STR, "ID_UDO_FK": STR}, b2)
    b3 = [{"ID_DISCIPLINA_FK": g.fk(dis, 0.97, "dis") if g.chance(0.95) else None,
           "ID_UDO_FK": g.fk(udo, 0.98, "ud"), "POSTI_LETTO": r.randint(0, 40),
           "POSTI_LETTO_EXTRA": r.randint(0, 4), "POSTI_LETTO_OBI": r.randint(0, 2),
           "POSTI_LETTO_ACC": r.choice([r.randint(0, 30), None]),
           "HSP12": r.choice(["H12 ", None]), "ID_UO": r.choice(uo_codes + [None, " UO-0"]),
           "PROVENIENZA_UO": r.choice(["MANUALE", None])} for _ in range(S)]
    table("bind_udo_disciplina", {
        "ID_DISCIPLINA_FK": STR, "ID_UDO_FK": STR, "POSTI_LETTO": INT, "POSTI_LETTO_EXTRA": INT,
        "POSTI_LETTO_OBI": INT, "POSTI_LETTO_ACC": INT, "HSP12": STR, "ID_UO": STR,
        "PROVENIENZA_UO": STR}, b3)
    kept = b1 + b2 + [b for b in b3 if b["ID_DISCIPLINA_FK"] is not None]
    exp["udo_specialties"] = len(kept)
    orphans["udo_specialties.udo_id->udos.id"] = sum(
        norm_id(b["ID_UDO_FK"]) not in udo_set for b in kept)

    # ---- users --------------------------------------------------------------------
    an = ids("an", max(20, S // 5))
    table("anagrafica_utente_model", {
        "CLIENTID": STR, "NOME": STR, "COGNOME": STR, "CFISC": STR, "EMAIL": STR,
        "DATA_NASCITA": STR, "VIA_PIAZZA": STR, "CIVICO": STR, "TELEFONO": STR,
        "CELLULARE": STR, "CARTA_IDENT_NUM": STR, "CARTA_IDENT_SCAD": STR, "PROFESSIONE": STR,
        "COD_LUOGO_NASCITA": STR, "CREATION": TS, "LAST_MOD": TS},
        [{"CLIENTID": g.dirty(x), "NOME": r.choice(WORDS), "COGNOME": r.choice(WORDS) + " ",
          "CFISC": f"CF{i}", "EMAIL": f"u{i}@x.it" if g.chance(0.8) else None,
          "DATA_NASCITA": r.choice([f"19{r.randint(40, 99)}-0{r.randint(1, 9)}-1{r.randint(0, 9)}",
                                    "not a date", None]),
          "VIA_PIAZZA": "Via " + r.choice(WORDS), "CIVICO": str(r.randint(1, 99)),
          "TELEFONO": "041", "CELLULARE": "333", "CARTA_IDENT_NUM": f"ID{i}",
          "CARTA_IDENT_SCAD": "2030-01-01", "PROFESSIONE": r.choice(["Medico", "Infermiere"]),
          "COD_LUOGO_NASCITA": r.choice(istat) if g.chance(0.8) else None,
          "CREATION": g.ts(), "LAST_MOD": g.ts()} for i, x in enumerate(an)])
    ut = ids("u", len(an))
    ut_rows = [{"CLIENTID": g.dirty(u), "ID_ANAGR_FK": g.dirty(a), "USERNAME_CAS": f" user{i} ",
                "RUOLO": r.choice(["region", "AMMINISTRATORE ", "operatore", "boss", None]),
                "PROVENIENZA_UO": r.choice(["MANUALE", "ORGANIGRAMMA_TREE"]),
                "ID_UO": r.choice(uo_codes), "DATA_DISABILITATO": g.ts(0.8)}
               for i, (u, a) in enumerate(zip(ut, an)) if g.chance(0.9)]
    table("utente_model", {"CLIENTID": STR, "ID_ANAGR_FK": STR, "USERNAME_CAS": STR,
                           "RUOLO": STR, "PROVENIENZA_UO": STR, "ID_UO": STR,
                           "DATA_DISABILITATO": TS}, ut_rows)
    exp["users"] = len(an)
    rows = [{"CLIENTID": g.dirty(f"op-{i:06d}"), "ID_UTENTE_FK": g.fk(ut, 0.95, "u"),
             "ID_TITOLARE_FK": g.fk(comp, 0.95, "c"), **audit(g)} for i in range(len(an))]
    table("operatore_model", {"CLIENTID": STR, "ID_UTENTE_FK": STR, "ID_TITOLARE_FK": STR,
                              **audit_cols}, rows)
    exp["user_companies"] = len(rows)

    # ---- auac / cronos ------------------------------------------------------------
    treq = ["Generale", " generale ", "Ignorato", "Altro"]
    table("tipo_requisito", {"CLIENTID": STR, "NOME": STR, "CREATION": TS, "LAST_MOD": TS},
          [{"CLIENTID": g.dirty(f"tg-{i}"), "NOME": n, "CREATION": g.ts(), "LAST_MOD": g.ts()}
           for i, n in enumerate(treq)])
    tsr = ids("ts", 20)
    table("tipo_specifico_requisito", {"CLIENTID": STR, "NOME": STR, "CREATION": TS,
                                       "LAST_MOD": TS},
          [{"CLIENTID": g.dirty(x), "NOME": f"Specifico {i}", "CREATION": g.ts(),
            "LAST_MOD": g.ts()} for i, x in enumerate(tsr)])
    exp["requirement_taxonomies"] = sum(n.strip(WS).lower() == "generale" for n in treq) + \
        len(tsr) + 1
    rsp = ids("rsp", 5)
    table("tipo_risposta", {"CLIENTID": STR, "NOME": STR},
          [{"CLIENTID": g.dirty(x), "NOME": n} for x, n in zip(
              rsp, ["Si/No", " testo libero", "Numero", "Data/Ora", "Scelta"])])
    rows = [{"CLIENTID": g.dirty(f"q-{i:06d}"), "NOME": f"Requisito {i}",
             "TESTO": g.text(WORDS, 2, 8) + "\n", "ANNOTATIONS": g.text(WORDS, 0, 3),
             "VALIDATO": g.flag(), "ANNULLATO": g.flag(), "IRRINUNCIABILE": g.flag(),
             "TIPO": r.choice(["Generale", " specifico", None]),
             "ID_TIPO_REQUISITO_FK": r.choice(["tg-0", None]),
             "ID_TIPO_SPECIFICO_REQUISITO_FK": r.choice(tsr + [None]),
             "ID_TIPO_RISPOSTA_FK": g.fk(rsp, 0.95, "rsp"), **audit(g)}
            for i in range(max(20, S // 2))]
    table("requisito_templ", {
        "CLIENTID": STR, "NOME": STR, "TESTO": STR, "ANNOTATIONS": STR, "VALIDATO": STR,
        "ANNULLATO": STR, "IRRINUNCIABILE": STR, "TIPO": STR, "ID_TIPO_REQUISITO_FK": STR,
        "ID_TIPO_SPECIFICO_REQUISITO_FK": STR, "ID_TIPO_RISPOSTA_FK": STR, **audit_cols}, rows)
    exp["requirements"] = len(rows)
    lr = ids("lr", 50)
    rows = [{"CLIENTID": g.dirty(x), "NOME": f" Lista {i}", "ID_DELIBERA_TEMPL": g.fk(dl, 0.9, "d"),
             **audit(g)} for i, x in enumerate(lr)]
    table("lista_requisiti_templ", {"CLIENTID": STR, "NOME": STR, "ID_DELIBERA_TEMPL": STR,
                                    **audit_cols}, rows)
    exp["requirement_lists"] = len(rows)
    orphans["requirement_lists.resolution_id->resolutions.id"] = sum(
        norm_id(x["ID_DELIBERA_TEMPL"]) not in res_set for x in rows)
    tp = ids("tp", 6)
    table("tipo_proc_templ", {"CLIENTID": STR, "DESCR": STR},
          [{"CLIENTID": g.dirty(x), "DESCR": n} for x, n in zip(
              tp, ["Autorizzazione", "Accreditamento", " Rinnovo acc.", "Voltura", "Revoca",
                   "Altro"])])
    rows = []
    for i in range(max(20, S // 2)):
        c = g.ts()
        rows.append({"CLIENTID": g.dirty(f"p-{i:06d}"), "ID_DOMANDA": f"D-{i}" if g.chance(0.8)
                     else None, "CODICE_UNIVOCO_NRECORD": f"CU-{i}",
                     "ID_TITOLARE_FK": g.fk(comp, 0.95, "c"), "ID_TIPO_PROC_FK": g.fk(tp, 0.95, "tp"),
                     "STATO": r.choice(["IN CORSO", "CESTINATA", " CONCLUSA", "BOZZA"]),
                     "DATA_CONCLUSIONE": g.ts(0.4), "DURATA_PROCEDIMENTO": r.randint(1, 90),
                     "MASSIMA_DURATA_PROCEDIMENTO": 90, "NUMERO_PROCEDIMENTO": f"N-{i}",
                     "CREATION": c, "LAST_MOD": g.ts(), "DATA_INVIO_DOMANDA": c,
                     "DATA_SCADENZA": g.ts(0.3)})
    table("domanda_inst", {
        "CLIENTID": STR, "ID_DOMANDA": STR, "CODICE_UNIVOCO_NRECORD": STR, "ID_TITOLARE_FK": STR,
        "ID_TIPO_PROC_FK": STR, "STATO": STR, "DATA_CONCLUSIONE": TS, "DURATA_PROCEDIMENTO": INT,
        "MASSIMA_DURATA_PROCEDIMENTO": INT, "NUMERO_PROCEDIMENTO": STR, "CREATION": TS,
        "LAST_MOD": TS, "DATA_INVIO_DOMANDA": TS, "DATA_SCADENZA": TS}, rows)
    exp["procedures"] = len(rows)
    ulss_codes = [str(501 + i) for i in range(9)]
    table("ulss_territoriale", {"DESCRIZIONE": STR, "CODICE": STR},
          [{"DESCRIZIONE": f" ULSS {i} ", "CODICE": c} for i, c in enumerate(ulss_codes)])
    exp["ulss"] = len(ulss_codes)
    rows = [{"CLIENTID": g.dirty(f"hc-{i}"), "CODICE": r.choice(ulss_codes) + " "
             if g.chance(0.9) else "999", "DESCRIZIONE": f"Azienda  {i}"} for i in range(20)]
    table("azienda_sanitaria", {"CLIENTID": STR, "CODICE": STR, "DESCRIZIONE": STR}, rows)
    exp["healthcare_companies"] = len(rows)
    rows = [{"CLIENTID": g.dirty(f"tt-{i}"), "DESCR": f" Tipo {i}",
             "SHOW_DICHIARAZIONE_DIR_SAN": r.choice(["S", "N", "s"]),
             "ORGANIGRAMMA_ATTIVO": r.choice(["S", "N"]), **audit(g)} for i in range(10)]
    table("tipo_titolare_templ", {"CLIENTID": STR, "DESCR": STR, "SHOW_DICHIARAZIONE_DIR_SAN": STR,
                                  "ORGANIGRAMMA_ATTIVO": STR, **audit_cols}, rows)
    exp["company_types"] = len(rows)
    for name, target in (("classificazione_programmazione", "cronos_taxonomies"),
                         ("classificazione_dm_70", "dm70_taxonomies")):
        rows = [{"CLIENTID": g.dirty(f"{target[:2]}-{i}"), "NOME": f"Cronos  {i}\x00"}
                for i in range(20)]
        table(name, {"CLIENTID": STR, "NOME": STR}, rows)
        exp[target] = len(rows)

    # joined or semi-joined foreign keys: a miss becomes null or drops the row
    for key in ("companies.municipality_id->municipalities.id",
                "operational_offices.municipality_id->municipalities.id",
                "udo_status_history.udo_id->udos.id",
                "healthcare_companies.ulss_id->ulss.id"):
        orphans[key] = 0

    # ---- write -----------------------------------------------------------------------
    os.makedirs(os.path.join(out_dir, "seed"), exist_ok=True)
    for csv_name, rows in seeds.items():
        with open(os.path.join(out_dir, "seed", csv_name), "w", newline="") as f:
            w = csv.DictWriter(f, fieldnames=list(rows[0]))
            w.writeheader()
            w.writerows(rows)
    for name, rows in T.items():
        cols = schema[name]
        arrays = {c: pa.array([row.get(c) for row in rows], type=t) for c, t in cols.items()}
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
    expected = {"rows": dict(sorted(exp.items())), "orphans": orphans,
                "attachments": attachments, "seed": seed, "size": S}
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def digests(out_dir):
    """Per-table sha256 of every generated file (the determinism check)."""
    out = {}
    for root, _, files in os.walk(out_dir):
        for name in sorted(files):
            path = os.path.join(root, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, out_dir)] = hashlib.sha256(f.read()).hexdigest()
    return out


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
