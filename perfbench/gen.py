"""Seeded inputs for the ``etl_refresh`` workload, with the ground truth
each refresh must reproduce.

``etl_inputs`` writes P project workbooks in the Matera export shape
(banner rows, an 86-column header with duplicated names, alias headers,
es-PE decimals, ``Tipología`` tower letters), one corrupt workbook and
one missing path, plus a Sperant CRM workbook (duplicate keys resolved
by the latest ``dd/MM/yyyy`` date, NULL prices and states, one
Sperant-only project). The truth is computed here in plain Python from
the same draws, following the reference's update and audit rules. The
same seed always gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

from xlsx import write_workbook

TOWER_PROJECTS = ("Matera", "Capadocia", "Napoles")
PLACES = ("Aurora", "Fenix", "Miraflores", "Barranco", "Surco", "Lince",
          "Magdalena", "Pueblo Libre", "San Isidro", "Jesus Maria",
          "Chorrillos", "La Molina", "Brena", "Callao", "Ate", "Comas")
NUMERO_ALIASES = ("Número de inmueble", "Código de inmueble", "N° inmueble",
                  "Numero de inmueble")
PRECIO_ALIASES = ("Precio de lista", "Precio Lista", "precio lista")
ESTADO_ALIASES = ("Estado de inmueble", "estado comercial")
NEXO_STATES = ("Disponible", "Vendido", "Separado", "Bloqueado")
CRM_STATES = ("Disponible", "disponible", "Vendido", "Separado", "Bloqueado")
TYPOLOGIES = ("A-1", "A-2", "B-1", "B-3", "C-1", "Flat", "Duplex")
HEADER_WIDTH = 86
SPERANT_ONLY = "Proyecto Solo CRM"
CRM_SHEET = "Unidades Consolidado"
CRM_COLUMNS = ("nombre_proyecto", "nombre", "precio_lista", "estado_comercial",
               "fecha_actualizacion", "tipologia", "piso", "moneda", "area")


def project_names(n: int) -> list[str]:
    names = list(TOWER_PROJECTS)
    i = 0
    while len(names) < n:
        names.append(f"{PLACES[i % len(PLACES)]} {i // len(PLACES) + 1}")
        i += 1
    return names[:n]


def _es_pe(cents: int) -> str:
    """``34512050`` → ``"345.120,50"`` (dot thousands, comma decimals)."""
    whole, frac = divmod(cents, 100)
    return f"{whole:,}".replace(",", ".") + f",{frac:02d}"


def _isclose(a: float | None, b: float | None) -> bool:
    if a is None and b is None:
        return True
    if a is None or b is None:
        return False
    return abs(a - b) <= 1e-8 + 1e-5 * abs(b)


def _project_sheet(rng: random.Random, project: str, n_rows: int):
    """One Nexo export and, per row, (canonical unit key, price, state)."""
    numero = rng.choice(NUMERO_ALIASES)
    header = [numero, rng.choice(PRECIO_ALIASES), rng.choice(ESTADO_ALIASES),
              "Tipología"]
    dups = ("Tipo Inmueble", "Piso", "Área Total")
    for name in dups:
        header += [name] * 4
    filler = [f"Campo {i}" for i in range(HEADER_WIDTH - len(header))]
    header += filler
    banner = [[f"REPORTE NEXO - {project}"], [f"Generado {rng.randint(1, 28)}/02/2025"]]
    banner += [[]] * rng.randint(0, 3)
    tower = project.lower() in {p.lower() for p in TOWER_PROJECTS}
    rows: list[list[object]] = banner + [header]
    facts = []
    units = rng.sample(range(n_rows * 3), n_rows)
    for i, u in enumerate(units):
        floor, pos = divmod(u, 20)
        num = (floor + 1) * 100 + pos + 1
        typ = rng.choice(TYPOLOGIES)
        letter = typ[0] if tower and typ[0] in "AB" else ""
        style = rng.random()
        if letter and style < 0.2:
            cell: object = f"{letter}{num}"          # already prefixed
        elif style < 0.5:
            cell = num                               # numeric cell
        elif style < 0.65:
            cell = f"{num}.0"                        # legacy float text
        else:
            cell = str(num)
        key = f"{letter}{num}".lower()
        cents = rng.randrange(8_000_000, 90_000_000, 5)
        pstyle = rng.random()
        if pstyle < 0.06:
            price_cell, price = None, None
        elif pstyle < 0.4:
            price_cell, price = cents / 100, cents / 100
        else:
            price_cell, price = _es_pe(cents), cents / 100
        state = rng.choice(NEXO_STATES) if rng.random() > 0.05 else None
        row = [cell, price_cell, state, typ]
        for d in range(len(dups)):
            quad: list[object] = [None] * 4
            quad[(i + d) % 4] = f"v{d}-{rng.randint(1, 9)}"
            row += quad
        row += [f"x{rng.randint(0, 9)}" for _ in filler]
        rows.append(row)
        facts.append((key, price, state))
    return rows, facts


def etl_inputs(out_dir: str, seed: int, n_projects: int, n_rows: int) -> dict:
    """Write the refresh inputs under ``out_dir`` and return the manifest:
    the project → file map (with one corrupt and one missing entry), the
    CRM workbook, and the expected audit summary. File names are
    relative to ``out_dir``."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    archivos: dict[str, str] = {}
    crm: list[list[object]] = []
    truth: dict[str, dict[str, int]] = {}
    base = dt.date(2024, 1, 1)
    for project in project_names(n_projects):
        rows, facts = _project_sheet(rng, project, n_rows)
        write_workbook(os.path.join(out_dir, f"{project}.xlsx"), {"Hoja1": rows})
        archivos[project] = f"{project}.xlsx"
        t = truth[project] = {"Registros": 0, "Con_Match": 0, "Sin_Match": 0,
                              "Cambios_Precio": 0, "Cambios_Estado": 0}
        for key, before_price, before_state in facts:
            t["Registros"] += 1
            if rng.random() < 0.15:
                t["Sin_Match"] += 1
                continue
            t["Con_Match"] += 1
            n_versions = 1 if rng.random() < 0.85 else rng.randint(2, 3)
            days = rng.sample(range(700), n_versions)
            latest = None
            for day in days:
                p = rng.random()
                if p < 0.1:
                    price = None
                elif p < 0.55 and before_price is not None:
                    price = before_price
                else:
                    price = rng.randrange(8_000_000, 90_000_000, 5) / 100
                state = None if rng.random() < 0.1 else rng.choice(CRM_STATES)
                if n_versions == 1 and rng.random() < 0.05:
                    date = None                      # undated, unique key
                else:
                    date = (base + dt.timedelta(days=day)).strftime("%d/%m/%Y")
                unit = key.upper() if rng.random() < 0.5 else key
                name = project + (" " if rng.random() < 0.1 else "")
                crm.append([name, unit, price, state, date,
                            rng.choice(TYPOLOGIES), rng.randint(1, 20), "PEN",
                            round(rng.uniform(40, 140), 2)])
                if latest is None or day > latest[0]:
                    latest = (day, price, state)
            _, new_price, new_state = latest
            after_price = new_price if new_price is not None else before_price
            after_state = new_state if new_state is not None else before_state
            t["Cambios_Precio"] += not _isclose(before_price, after_price)
            t["Cambios_Estado"] += before_state != after_state
        # CRM units with no Nexo counterpart in the same project
        for k in range(n_rows // 10):
            crm.append([project, f"Z{9000 + k}", 100000.0, "Disponible",
                        "15/06/2024", "Flat", 1, "PEN", 50.0])
    for k in range(n_rows // 4):
        crm.append([SPERANT_ONLY, str(100 + k), 150000.0, "Disponible",
                    "01/03/2024", "Flat", 1, "PEN", 60.0])
    rng.shuffle(crm)
    write_workbook(os.path.join(out_dir, "BD_SPERANT_ACTUAL.xlsx"),
                   {CRM_SHEET: [list(CRM_COLUMNS)] + crm})
    with open(os.path.join(out_dir, "Proyecto Roto.xlsx"), "wb") as f:
        f.write(bytes(rng.randrange(256) for _ in range(4096)))
    archivos["Proyecto Roto"] = "Proyecto Roto.xlsx"
    archivos["Proyecto Fantasma"] = "no_existe.xlsx"
    manifest = {"archivos": archivos, "crm": "BD_SPERANT_ACTUAL.xlsx", "truth": truth,
                "skipped": ["Proyecto Fantasma", "Proyecto Roto"],
                "solo_sperant": [SPERANT_ONLY],
                "rows": sum(t["Registros"] for t in truth.values())}
    with open(os.path.join(out_dir, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, ensure_ascii=False, indent=1)
    return manifest
