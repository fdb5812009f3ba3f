"""Seeded inputs of the ``news_enrich`` workload.

Writes, under ``out_dir``:

- ``catalog.json``: a municipality catalog of ``n_cities`` entries over
  the 27 UFs, one capital per UF, with ``alt_names`` variants and a set
  of names that exist in two UFs;
- ``portals.json``: three portal configs with different selectors and
  date formats;
- ``listing.parquet`` (batch, portal, page_url, html) and
  ``articles.parquet`` (batch, portal, url, html): the stored pages of
  every arriving batch;
- ``truth.json``: per article url its primary city id, and per batch the
  number of listing items and of new distinct urls.

Planted cases: urls listed again in a later batch (must be rejected by
ingest), urls listed twice within a batch, ambiguous primary names
disambiguated by a UF in the same sentence, primaries written through an
``alt_names`` variant, and the ``Prefeitura de X`` / ``o prefeito de X``
/ ``X-UF`` surface patterns. Filler text avoids every state name and UF
token, so the planted signals are the only ones."""

from __future__ import annotations

import json
import os
import random
import unicodedata

import pyarrow as pa
import pyarrow.parquet as pq

UFS = (
    "AC AL AP AM BA CE DF ES GO MA MT MS MG PA PB PR PE PI RJ RN RS RO RR SC SP SE TO"
).split()
_STATE_WORDS = ("acre alagoas amapa amazonas bahia ceara distrito espirito goias maranhao "
                "mato minas para paraiba parana pernambuco piaui rondonia roraima catarina "
                "sergipe tocantins").split()
REGIONS = ("Norte", "Nordeste", "Centro-Oeste", "Sudeste", "Sul")

_SYLLABLES = (
    "ba be bi bo bu ca co cu da di du fa fe fi fo ga gu ja ji jo ju la le li lo lu "
    "na ne ni no nu ra re ri ru sa si so su ta te ti tu va ve vi vo xa xi za zo "
    "bra bri cre cri dra fra gra gri tra tri pla pri"
).split()
_FILLER = (
    "obras novo programa moradores reunião secretaria investimento projeto bairro "
    "rua população vacinação campanha festival cultura esporte evento semana hoje "
    "ontem amanhã prazo recursos estrada ponte chuva hospital unidade atendimento "
    "equipe servidores governo verba licitação contrato empresa escola aulas alunos "
    "feira praça limpeza coleta lixo água energia transporte ônibus linha horário "
    "mercado comércio vendas turismo visitantes museu biblioteca teatro música show "
    "prêmio concurso vagas inscrições edital orçamento conselho votação debate "
    "vereadores sessão proposta lei decreto medida plano meta resultado balanço"
).split()
_FIRST = "Ana Bruno Carla Diego Elisa Fábio Gabriela Hugo Isabel Júlio Karina Lucas".split()
_LAST = "Ribeiro Mendes Carvalho Teixeira Moreira Barbosa Cardoso Rocha Dias Nunes".split()

PORTALS = [
    {
        "name": "diario",
        "base_url": "https://diario.example/",
        "selectors": {
            "listing_article": {"query": "article.card", "attribute": None},
            "listing_title": {"query": "h2 a", "attribute": None},
            "listing_url": {"query": "h2 a", "attribute": "href"},
            "listing_summary": {"query": "p.summary", "attribute": None},
            "article_content": {"query": "div.content", "attribute": None},
            "article_date": {"query": "time", "attribute": "datetime"},
        },
        "date_format": "%d/%m/%Y",
    },
    {
        "name": "folha",
        "base_url": "https://folha.example/noticias/",
        "selectors": {
            "listing_article": {"query": "div.item", "attribute": None},
            "listing_title": {"query": "h3 a", "attribute": None},
            "listing_url": {"query": "h3 a", "attribute": "href"},
            "article_content": {"query": "section.body", "attribute": None},
            "article_date": {"query": "span.date", "attribute": None},
        },
        "date_format": "%Y-%m-%d %H:%M",
    },
    {
        "name": "gazeta",
        "base_url": "https://gazeta.example/",
        "selectors": {
            "listing_article": {"query": "li.news", "attribute": None},
            "listing_title": {"query": "a.title", "attribute": None},
            "listing_url": {"query": "a.title", "attribute": "href"},
            "listing_summary": {"query": "div.lead", "attribute": None},
            "article_content": {"query": "div.texto", "attribute": None},
            "article_date": {"query": "p.published", "attribute": None},
        },
        "date_format": "%d.%m.%Y",
    },
]
ITEMS_PER_PAGE = 10
RELIST_SHARE = 0.15  # items of a later batch that list an earlier url
INTRA_DUP_SHARE = 0.05  # items listed twice within one batch, at least one


def _fold(s: str) -> str:
    return "".join(
        c for c in unicodedata.normalize("NFKD", s.lower()) if not unicodedata.combining(c)
    )


def _clean_word(w: str) -> bool:
    f = _fold(w)
    return f.upper() not in UFS and not any(s in f for s in _STATE_WORDS)


FILLER = [w for w in _FILLER if _clean_word(w)]


def make_catalog(rng: random.Random, n_cities: int, n_ambiguous: int) -> list[dict]:
    """Unique synthetic names; ``n_ambiguous`` of them appear in a second
    UF; every 7th city carries an ``alt_names`` variant."""
    blocked = {_fold(w) for w in FILLER + _FIRST + _LAST} | {"natal", "esperanca", "palmas"}
    names: list[str] = []
    seen: set[str] = set()
    while len(names) < n_cities - n_ambiguous:
        word = "".join(rng.choice(_SYLLABLES) for _ in range(rng.choice((3, 3, 4))))
        f = _fold(word)
        if f in seen or f in blocked or not _clean_word(word):
            continue
        seen.add(f)
        names.append(word.capitalize())
    entries = []
    for i, name in enumerate(names):
        uf = UFS[i % len(UFS)]
        # the first city of each UF is its capital
        entries.append(_entry(rng, 1100000 + i, name, uf, capital=i < len(UFS)))
        if i % 7 == 3:
            entries[-1]["alt_names"] = [name + "zinho"]
    # ambiguous twins: the same name in a different UF, never a capital
    for j in range(n_ambiguous):
        src = entries[len(UFS) + j * 3]
        other = UFS[(UFS.index(src["uf"]) + 5) % len(UFS)]
        entries.append(_entry(rng, 5300000 + j, src["name"], other, capital=False))
    return entries


def _entry(rng: random.Random, ibge: int, name: str, uf: str, capital: bool) -> dict:
    lat = round(rng.uniform(-33.0, 4.0), 4)
    lon = round(rng.uniform(-73.0, -35.0), 4)
    return {
        "ibge_id": str(ibge),
        "name": name,
        "uf": uf,
        "region": REGIONS[UFS.index(uf) % len(REGIONS)],
        "latitude": lat,
        "longitude": lon,
        "bbox": [lon - 0.1, lat - 0.1, lon + 0.1, lat + 0.1],
        "capital": capital,
    }


def _filler(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(FILLER) for _ in range(n))


def _article_text(rng: random.Random, primary: dict, distractor: dict) -> tuple[str, str, str]:
    """(title, summary, body). The primary appears in the title with an
    admin marker and twice in the body, each body sentence carrying its
    UF; the distractor appears once, in its own sentence with its UF."""
    surface = primary["name"]
    if primary.get("alt_names") and rng.random() < 0.5:
        surface = primary["alt_names"][0]
    uf = primary["uf"]
    person = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
    title = f"Prefeitura de {primary['name']} anuncia {_filler(rng, 3)}"
    summary = f"{_filler(rng, 6)} com {person}"
    style = rng.randrange(3)
    if style == 0:
        first = f"O prefeito de {surface} ({uf}) {person} apresentou {_filler(rng, 8)}."
    elif style == 1:
        first = f"Moradores de {surface}-{uf} acompanharam {_filler(rng, 8)}."
    else:
        first = f"No município de {surface} ({uf}) a equipe iniciou {_filler(rng, 8)}."
    body = " ".join(
        [
            first,
            f"{_filler(rng, 12).capitalize()}.",
            f"A secretaria de {surface} ({uf}) confirmou {_filler(rng, 6)}.",
            f"Em {distractor['name']} ({distractor['uf']}) houve {_filler(rng, 5)}.",
            f"{_filler(rng, 10).capitalize()}.",
        ]
    )
    return title, summary, body


def _listing_html(portal: str, items: list[dict]) -> str:
    cards = []
    for it in items:
        href = it["href"]
        if portal == "diario":
            cards.append(
                f'<article class="card"><h2><a href="{href}">{it["title"]}</a></h2>'
                f'<p class="summary">{it["summary"]}</p></article>'
            )
        elif portal == "folha":
            cards.append(f'<div class="item"><h3><a href="{href}">{it["title"]}</a></h3></div>')
        else:
            cards.append(
                f'<li class="news"><a class="title" href="{href}">{it["title"]}</a>'
                f'<div class="lead">{it["summary"]}</div></li>'
            )
    return "<html><body><main>" + "".join(cards) + "</main></body></html>"


def _article_html(portal: str, a: dict) -> str:
    d = a["date"]
    if portal == "diario":
        meta = f'<time datetime="{d.strftime("%d/%m/%Y")}">{d.day}</time>'
        body = f'<div class="content">{a["body"]}</div>'
    elif portal == "folha":
        meta = f'<span class="date">{d.strftime("%Y-%m-%d %H:%M")}</span>'
        body = f'<section class="body">{a["body"]}</section>'
    else:
        meta = f'<p class="published">{d.strftime("%d.%m.%Y")}</p>'
        body = f'<div class="texto">{a["body"]}</div>'
    return f"<html><body><h1>{a['title']}</h1>{meta}{body}</body></html>"


def _url(portal: dict, slug: str) -> tuple[str, str]:
    """(href as listed, resolved url). diario lists absolute paths, the
    others relative ones, so urljoin is exercised both ways."""
    if portal["name"] == "diario":
        href = f"/noticia/{slug}"
        return href, "https://diario.example" + href
    return slug, portal["base_url"] + slug


def generate(seed: int, out_dir: str, n_batches: int, per_batch: int,
             n_cities: int = 5570, n_ambiguous: int = 120) -> dict:
    import datetime as dt

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    catalog = make_catalog(rng, n_cities, n_ambiguous)
    by_name: dict[str, list[dict]] = {}
    for e in catalog:
        by_name.setdefault(e["name"], []).append(e)
    twins = [es for es in by_name.values() if len(es) > 1]
    singles = [es[0] for es in by_name.values() if len(es) == 1]
    with open(os.path.join(out_dir, "catalog.json"), "w") as f:
        json.dump(catalog, f)
    with open(os.path.join(out_dir, "portals.json"), "w") as f:
        json.dump(PORTALS, f)

    truth = {"primary": {}, "batches": []}
    published: dict[str, list[dict]] = {p["name"]: [] for p in PORTALS}
    base_day = dt.datetime(2024, 3, 1, 8, 0)
    serial = 0
    listing_rows: list[tuple] = []
    article_rows: list[tuple] = []
    for b in range(n_batches):
        listed_items = new_urls = 0
        for p_i, portal in enumerate(PORTALS):
            name = portal["name"]
            n_items = per_batch // len(PORTALS) + (1 if p_i < per_batch % len(PORTALS) else 0)
            # exact counts per seed, so every seed gives the same amount of work
            n_relist = round(RELIST_SHARE * n_items) if published[name] else 0
            items: list[dict] = [rng.choice(published[name]) for _ in range(n_relist)]
            fresh: list[dict] = []
            for _ in range(n_items - n_relist):
                serial += 1
                if rng.random() < 0.2:
                    pair = rng.choice(twins)
                    primary = rng.choice(pair)
                else:
                    primary = rng.choice(singles)
                distractor = rng.choice(singles)
                while distractor["name"] == primary["name"]:
                    distractor = rng.choice(singles)
                title, summary, body = _article_text(rng, primary, distractor)
                href, url = _url(portal, f"{b:02d}-{serial:06d}-{_fold(primary['name'])}")
                art = {
                    "href": href,
                    "url": url,
                    "title": title,
                    "summary": summary,
                    "body": body,
                    "date": base_day + dt.timedelta(days=b, minutes=serial % 600),
                }
                items.append(art)
                fresh.append(art)
                truth["primary"][url] = primary["ibge_id"]
            n_dup = max(1, round(INTRA_DUP_SHARE * len(items)))
            items.extend(rng.sample(items, n_dup))  # listed twice within the batch
            rng.shuffle(items)
            listing_rows.extend(
                (b, name, f"{portal['base_url']}lista?b={b}&p={i}",
                 _listing_html(name, items[i : i + ITEMS_PER_PAGE]))
                for i in range(0, len(items), ITEMS_PER_PAGE)
            )
            distinct = {a["url"]: a for a in items}
            article_rows.extend((b, name, url, _article_html(name, a)) for url, a in distinct.items())
            listed_items += len(items)
            new_urls += len(fresh)
            published[name].extend(fresh)
        truth["batches"].append({"listed": listed_items, "new": new_urls})
    for fname, key, rows in (("listing", "page_url", listing_rows), ("articles", "url", article_rows)):
        cols = list(zip(*rows))
        pq.write_table(
            pa.table({"batch": pa.array(cols[0], pa.int32()), "portal": cols[1], key: cols[2], "html": cols[3]}),
            os.path.join(out_dir, f"{fname}.parquet"),
        )
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth
