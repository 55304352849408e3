"""Seeded corpus generator for the benchmark workloads.

Every document is plain text in the engine's text-layout convention (the
stand-in parser reads pages split by form feeds, `#` headings that end in
`:`, paragraphs, and `TABLE:` / `FIGURE:` chart markers). The generator
varies the properties that the pipeline's cost and the curation results
depend on, and it derives every expected count from its own structure,
never from the engine:

- pages per document (1-4) with 1-3 sections each: page count only
  changes parse work, but it spreads sections and chart markers across
  pages the way real reports do.
- section length in whitespace tokens, drawn around the chunker's bounds
  (100 minimum, 2000 maximum): short sections (< 100 tokens) must merge
  into the next chunk, ordinary ones close at the next heading, and one
  document in ten holds a long section (> 2000 tokens in several
  paragraphs) that must split. This makes the chunk count per document
  vary.
- entity density (share of sentences that carry a person, organisation,
  place or date): NER cost grows with the capitalised spans it resolves.
- charts per document (0-4, mixed tables and figures, some captionless):
  chart rendering and the chart id / blob path are the heaviest part of
  ingest, so this is the ingest cost knob.
- planted near-duplicate share: copies of an earlier document with about
  2 % of the words replaced (word-5-gram Jaccard around 0.9, well above
  the 0.5 verify threshold), so dedup has real clusters to resolve.
- planted low-quality share: symbol-heavy "table dump" documents that
  the Gopher rules drop.
- minimum document length (curation corpora only): every document holds
  at least 100 words, twice the 50-word minimum of the published Gopher
  rules (Rae et al., 2021), so that the planted low-quality documents are
  the only ones a quality filter is expected to drop. Without it, a
  one-section document made of a single short section can fall under
  that minimum.

Expected counts follow the documented chunking contract applied to the
blocks the generator itself emitted: a chunk closes when a heading
arrives while it holds >= 100 tokens, or when the next paragraph would
take it past 2000 tokens while it holds >= 100 tokens.
"""

import os
import random

CHUNK_MIN = 100
CHUNK_MAX = 2000

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "with", "that", "be"]
PEOPLE = ["Alice Moreno", "Budi Santoso", "Carla Jensen", "Dmitri Volkov",
          "Elena Rossi", "Farid Haddad", "Grace Okafor", "Hiro Tanaka"]
ORGS = ["Vantor Holdings", "Kestrel Group", "Lumen Corp", "Orbis GmbH",
        "Pellucid Ltd", "Quarry Inc"]
PLACES = ["Jakarta", "London", "Singapore", "Tokyo", "Berlin", "California"]
MONTHS = ["January", "March", "May", "July", "September", "November"]
JUNK = ["|", "--", "x=1;", "#", "::", "(n/a)", "+/-", "*", "0x1f", "==>"]

_SYLLABLES = ["ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu",
              "na", "pe", "ri", "so", "tu", "va", "we", "xi", "yo", "zu",
              "bra", "cle", "dro", "fli", "gra", "plo", "stru", "tre"]


def _vocabulary(size=20000):
    rng = random.Random(20240611)
    words = set()
    while len(words) < size:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        words.add(w)
    return sorted(words)


VOCAB = _vocabulary()


class Doc:
    """One generated document: its bytes and what the engine must find."""

    def __init__(self, name, text, chunks, charts, pages, tokens,
                 junk=False, dup_of=None, long_section=False):
        self.name = name
        self.long_section = long_section
        self.data = text.encode("utf-8")
        self.chunks = chunks
        self.charts = charts
        self.pages = pages
        self.tokens = tokens
        self.junk = junk
        self.dup_of = dup_of


def _sentence(rng, entity_density):
    n = rng.randint(16, 28)
    words = [rng.choice(STOPWORDS) if rng.random() < 0.25 else rng.choice(VOCAB)
             for _ in range(n)]
    if rng.random() < entity_density:
        kind = rng.randrange(4)
        if kind == 0:
            ent = rng.choice(PEOPLE)
        elif kind == 1:
            ent = rng.choice(ORGS)
        elif kind == 2:
            ent = rng.choice(PLACES)
        else:
            ent = "%s %d %d" % (rng.choice(MONTHS), rng.randint(1, 28),
                                rng.randint(2015, 2025))
        pos = rng.randrange(1, n)
        words[pos:pos] = ent.split()
    return " ".join(words) + "."


def _paragraph(rng, target_tokens, entity_density):
    sents, count = [], 0
    while count < target_tokens:
        s = _sentence(rng, entity_density)
        sents.append(s)
        count += len(s.split())
    return " ".join(sents)


def _junk_paragraph(rng, target_tokens):
    return " ".join(rng.choice(JUNK) if rng.random() < 0.5 else rng.choice(VOCAB)
                    for _ in range(target_tokens))


def _section_lengths(rng, short, long_section):
    """Section token targets around the chunker's bounds: a short section
    (< 100) merges into the next chunk, an ordinary one closes at the next
    heading, and with `long_section` one of them passes the maximum and
    must split."""
    out = [rng.randint(30, 95) if s else rng.randint(110, 450) for s in short]
    if long_section:
        out[rng.randrange(len(out))] = rng.randint(2100, 2600)
    return out


def count_chunks(blocks):
    """Chunks the documented chunking contract yields for a block list.

    `blocks` is the reading-order list of ("heading", 0) and
    ("text", tokens) entries; chart markers carry no chunk text.
    """
    chunks, cur = 0, 0
    for kind, tokens in blocks:
        if kind == "heading":
            if cur >= CHUNK_MIN:
                chunks, cur = chunks + 1, 0
        else:
            if cur > 0 and cur + tokens > CHUNK_MAX and cur >= CHUNK_MIN:
                chunks, cur = chunks + 1, 0
            cur += tokens
    return chunks + (1 if cur > 0 else 0)


def make_doc(rng, name, page_sections, short, n_charts, long_section, junk=False,
             min_tokens=0):
    """Generate one document: `page_sections` sections on each page, the
    ones flagged in `short` below the chunk minimum, and at least
    `min_tokens` words in all. Returns a Doc with its expected counts."""
    density = rng.uniform(0.05, 0.6)  # share of sentences with an entity
    n_pages = len(page_sections)
    lengths = _section_lengths(rng, short, long_section)
    lengths[-1] += max(0, min_tokens - sum(lengths))
    # chart markers go after a random subset of sections
    chart_slots = sorted(rng.randrange(len(lengths)) for _ in range(n_charts))
    blocks, pages_text, sec = [], [], 0
    for p in range(n_pages):
        lines = []
        for _ in range(page_sections[p]):
            level = rng.randint(0, 2)
            title = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 5)))
            lines.append(("#" * level + " " if level else "") + title + ":")
            lines.append("")
            blocks.append(("heading", 0))
            remaining = lengths[sec]
            while remaining > 0:
                take = min(remaining, rng.randint(60, 420))
                para = (_junk_paragraph(rng, take) if junk
                        else _paragraph(rng, take, density))
                lines.append(para)
                lines.append("")
                blocks.append(("text", len(para.split())))
                remaining -= take
            for _ in range(chart_slots.count(sec)):
                marker = "TABLE:" if rng.random() < 0.5 else "FIGURE:"
                if rng.random() < 0.8:
                    marker += " " + " ".join(rng.choice(VOCAB)
                                             for _ in range(rng.randint(2, 6)))
                lines.append(marker)
                lines.append("")
            sec += 1
        pages_text.append("\n".join(lines))
    tokens = sum(t for k, t in blocks if k == "text")
    return Doc(name, "\f".join(pages_text), count_chunks(blocks), n_charts,
               n_pages, tokens, junk=junk, long_section=long_section)


def near_duplicate(rng, src, name, replace_share=0.02):
    """A copy of `src` with about `replace_share` of its words (at least
    one) replaced.

    Headings, chart markers and layout stay identical, so the copy has
    the same chunk and chart counts as its source.
    """
    lines = src.data.decode("utf-8").split("\n")
    words = [ln.split(" ") for ln in lines]
    eligible = []
    for i, ln in enumerate(lines):
        s = ln.strip()
        if (s and not s.endswith(":") and not s.startswith(("TABLE:", "FIGURE:"))
                and "\f" not in ln):
            eligible += [(i, j) for j, w in enumerate(words[i]) if w.isalpha() and w.islower()]
    picked = [p for p in eligible if rng.random() < replace_share] or [rng.choice(eligible)]
    for i, j in picked:
        words[i][j] = rng.choice(VOCAB)
    return Doc(name, "\n".join(" ".join(ws) for ws in words), src.chunks, src.charts,
               src.pages, src.tokens, junk=src.junk, dup_of=src.name,
               long_section=src.long_section)


def _stratified(rng, n, values):
    """`n` draws that cover `values` evenly, in a seeded order."""
    out = [values[i % len(values)] for i in range(n)]
    rng.shuffle(out)
    return out


def corpus(seed, n, prefix, dup_share=0.0, junk_share=0.0, charts=(0, 4),
           pages=(1, 4), long_share=0.1, min_tokens=0):
    """`n` documents named `<prefix>-<i>.pdf`; a share of them planted
    near-duplicates of earlier ones and a share low-quality.

    Chart count, page count, sections per page, short sections and
    whether a document holds one section past the chunker's maximum are
    stratified over the corpus (an even spread in a seeded order, not
    independent draws): they set most of a document's ingest cost and
    stored bytes, so corpus totals must not swing with the seed while the
    per-document mix still does.
    """
    rng = random.Random("%s/%s" % (seed, prefix))
    n_charts = _stratified(rng, n, list(range(charts[0], charts[1] + 1)))
    n_pages = _stratified(rng, n, list(range(pages[0], pages[1] + 1)))
    every = max(1, int(round(1 / long_share))) if long_share > 0 else n + 1
    long_section = _stratified(rng, n, [i == 0 for i in range(every)])
    # 1-3 sections per page and 3 short sections in 10, spread evenly
    # over the corpus's pages and sections
    per_page = iter(_stratified(rng, sum(n_pages), [1, 2, 3]))
    page_sections = [[next(per_page) for _ in range(p)] for p in n_pages]
    short = iter(_stratified(rng, sum(map(sum, page_sections)), [True] * 3 + [False] * 7))
    short_flags = [[next(short) for _ in range(sum(ps))] for ps in page_sections]
    # exact planted shares; the first document is always an original, so
    # every near-duplicate has an earlier source to copy
    n_dup, n_junk = int(round(dup_share * n)), int(round(junk_share * n))
    roles = ["dup"] * n_dup + ["junk"] * n_junk + ["orig"] * (n - n_dup - n_junk)
    rng.shuffle(roles)
    if roles and roles[0] != "orig":
        j = roles.index("orig")
        roles[0], roles[j] = roles[j], roles[0]
    docs = []
    for i in range(n):
        name = "%s-%05d.pdf" % (prefix, i)
        shape = dict(page_sections=page_sections[i], short=short_flags[i],
                     n_charts=n_charts[i], long_section=long_section[i])
        if roles[i] == "dup":
            originals = [d for d in docs if d.dup_of is None and not d.junk]
            docs.append(near_duplicate(rng, rng.choice(originals), name))
        else:
            docs.append(make_doc(rng, name, junk=roles[i] == "junk",
                                 min_tokens=min_tokens, **shape))
    return docs


def write_docs(docs, directory):
    os.makedirs(directory, exist_ok=True)
    for d in docs:
        with open(os.path.join(directory, d.name), "wb") as f:
            f.write(d.data)


def totals(docs):
    return {
        "documents": len(docs),
        "chunks": sum(d.chunks for d in docs),
        "charts": sum(d.charts for d in docs),
        "bytes": sum(len(d.data) for d in docs),
    }
