"""Seeded document-ETL request generator and the expected outcome of
every generated document.

Pure Python (no Spark): the same seed gives byte-identical requests.
Each request carries the columns ``run_document_etl`` reads plus a
binary ``content`` payload. The generator knows the field values it
embeds, so it also states what the ETL must produce for the document:
the result flag, the lake metadata map, the K1 text artifact and
whether a K3 notification is due.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

REQUEST_SCHEMA = (
    "record_id string, parent_id string, key string, session_id string, "
    "document_type string, period_month string, period_year string, "
    "content binary"
)

# Routing contract of the plan: two named domains, everything else
# falls through to polizas ("CONTRACT" is the fall-through type here).
DOCUMENT_TYPES = {
    "POLICY": "polizas",
    "CONTRACT": "polizas",
    "REGISTRATION": "inscripciones",
    "APPRAISAL": "tasaciones",
}

SPANISH_MONTHS = (
    "enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
    "agosto", "septiembre", "octubre", "noviembre", "diciembre",
)
# Month values that must not refine to a month number.
NUMERIC_MONTHS = ("05", "7", "12")
INVALID_MONTHS = ("Mayoo", "13", "mes", "")

# Lower-case, digit-free filler: it can never match a field pattern.
FILLER = (
    "el la de que y en los se del las por un para con una su al lo como "
    "mas pero sus le ya este si porque esta entre cuando muy sin sobre "
    "tambien me hay donde quien todo nos durante todos uno les ni contra "
    "otros documento registro clausula entidad asegurado valor banco"
).split()

PAGE_WORDS = 10  # words per page in the plan's first-pages split
FIRST_PAGES = 2

EMPTY_SHARE = 0.01
HUGE_SHARE = 0.004
HUGE_WORDS = 200_000  # ~1 MB of text


@dataclass
class Doc:
    row: tuple
    flow: str
    success: bool
    metadata: dict[str, str] = field(default_factory=dict)
    k1_text: str | None = None


def _date(rng: random.Random) -> str:
    return f"{rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/{rng.randint(2010, 2024)}"


def _header(flow: str, rng: random.Random) -> tuple[str, dict[str, str]]:
    """Domain header text and the fields the transform port must find."""
    if flow == "polizas":
        num, client = rng.randint(1, 10**6), rng.randint(1, 999)
        start, end = _date(rng), _date(rng)
        fields = {"policy_number": f"POL-{num}", "policy_start_date": start,
                  "policy_end_date": end}
        insured = ""
        if rng.random() < 0.9:  # some policies name no insured party
            insured = f" | Asegurado: CLIENTE {client}"
            fields["policy_name"] = f"CLIENTE {client}"
        text = (f"POLIZA DE SEGURO POL-{num}{insured} | Vigencia desde el "
                f"{start} hasta el {end}")
        return text, fields
    if flow == "tasaciones":
        expert, owner = rng.randint(1, 999), rng.randint(1, 999)
        day = _date(rng)
        commercial = rng.randint(10**4, 10**7)
        realization = commercial * 9 // 10
        text = (f"INFORME DE TASACION | Perito: ING {expert} | Fecha de tasacion: "
                f"{day} | Valor comercial: S/ {commercial} | Valor de "
                f"realizacion: S/ {realization} | Propietario: SOC {owner}")
        return text, {
            "expert_warranty_name": f"ING {expert}", "tasacion_date": day,
            "commercial_value": str(commercial),
            "realization_value": str(realization),
            "tasacion_owner": f"SOC {owner}",
        }
    num, bank, day = rng.randint(1000, 99999), rng.randint(1, 999), _date(rng)
    text = f"Partida N {num} presentado el {day} a favor de BANCO {bank}"
    return text, {"inscription_number": str(num), "legal_name": f"BANCO {bank}",
                  "inscription_date": day}


def _word_count(rng: random.Random) -> int:
    if rng.random() < HUGE_SHARE:
        return HUGE_WORDS
    return max(20, int(rng.lognormvariate(math.log(300), 0.6)))


def _month(rng: random.Random) -> tuple[str, str | None]:
    """(raw period_month, refined month number or None)."""
    u = rng.random()
    if u < 0.8:
        n = rng.randrange(12)
        raw = rng.choice((str.capitalize, str.upper, str.lower))(SPANISH_MONTHS[n])
        if rng.random() < 0.2:
            raw = f" {raw} "
        return raw, str(n + 1)
    if u < 0.9:
        return rng.choice(NUMERIC_MONTHS), None
    return rng.choice(INVALID_MONTHS), None


def _year(rng: random.Random) -> tuple[str, str | None]:
    if rng.random() < 0.9:
        y = str(rng.randint(2015, 2024))
        return y, y
    return rng.choice(("23", "año", "20x4")), None


def first_pages(words: list[str]) -> str:
    pages = [words[i:i + PAGE_WORDS] for i in range(0, len(words), PAGE_WORDS)]
    return "\n\n".join(" ".join(p) for p in pages[:FIRST_PAGES])


def make_doc(rng: random.Random, record_id: str, dtype: str) -> Doc:
    flow = DOCUMENT_TYPES[dtype]
    month_raw, month = _month(rng)
    year_raw, year = _year(rng)
    row_head = (record_id, f"p{rng.randrange(1000)}",
                f"{flow}/{year_raw}/{record_id}.pdf", f"s{rng.randrange(100)}",
                dtype, month_raw, year_raw)
    if rng.random() < EMPTY_SHARE:
        return Doc(row_head + (b"",), flow, success=False)
    header, fields = _header(flow, rng)
    words = header.split(" ")
    n_fill = max(0, _word_count(rng) - len(words))
    words += [rng.choice(FILLER) for _ in range(n_fill)]
    text = " ".join(words)
    metadata = {"document_type": dtype, **fields}
    if month is not None:
        metadata["period_month"] = month
    if year is not None:
        metadata["period_year"] = year
    return Doc(row_head + (text.encode("utf-8"),), flow, True, metadata,
               first_pages(words))


def make_batch(seed: int, batch: int, size: int, single_domain: bool) -> list[Doc]:
    """Batch ``batch`` of the seed's request stream.

    A single-domain batch draws one document type for all its requests,
    which leaves two of the plan's three flows empty. Otherwise every
    flow gets at least two requests and the rest of the mix is drawn
    at random, so each batch runs all three flows.
    """
    rng = random.Random(f"perfbench-etl:{seed}:{batch}")
    types = sorted(DOCUMENT_TYPES)
    if single_domain:
        one = rng.choice(types)
        picks = [one] * size
    else:
        by_flow: dict[str, list[str]] = {}
        for t in types:
            by_flow.setdefault(DOCUMENT_TYPES[t], []).append(t)
        picks = [rng.choice(by_flow[f]) for f in sorted(by_flow) for _ in range(2)]
        picks += [rng.choice(types) for _ in range(size - len(picks))]
        rng.shuffle(picks)
    return [make_doc(rng, f"r{seed}-{batch:04d}-{i:05d}", t)
            for i, t in enumerate(picks)]
