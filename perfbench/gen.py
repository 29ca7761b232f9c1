"""Seeded input generator with ground truth for the perfbench workloads.

Everything is a pure function of (workload, seed). The ingest generator
writes:

  init/            seed CSVs in the reference `data/init` shapes
  ops/<id>/dois.txt, ops/<id>/payloads/*.json
                   one DOI list and one payload dir per operation
  openalex*.parquet
                   OpenAlex works tables (doi, id, cited_by_count)
  plan.tsv         one line per operation for the JVM harness
  truth.json       per operation: the expected 13 report counters, the
                   node/edge deltas and a digest of each edge table after
                   it; the expected counts and digests after the seed load

The truth is computed by `Warehouse`, an independent in-memory replay of
the documented ingest semantics (DOI normalisation, pattern check,
intra-batch dedup, existence check, author repair and the
ORCID -> full name -> initial+surname -> mint resolution chain, author_of
MERGE and country substring linking). It never calls the program under test.
"""
import csv
import difflib
import hashlib
import json
import os
import random
import re

# ---------------------------------------------------------------- rates ---

# Share of the submissions of one operation, fixed for every seed.
RATES = {
    "duplicate": 0.04,        # re-submission of a DOI of the same op
    "invalid": 0.04,          # fails the Crossref DOI pattern
    "missing_payload": 0.06,  # valid DOI, no payload file
    "empty_payload": 0.02,    # payload file with zero results
    "existing": 0.10,         # DOI ingested by an earlier op (batches only)
}
# Share of author mentions / persons.
AUTHOR_RATES = {
    "recurring": 0.35,        # mention of a person already in the warehouse
    "variant": 0.25,          # recurring mention spelled as a name variant
    "person_orcid": 0.60,     # new person has an ORCID
    "mention_orcid": 0.80,    # mention of an ORCID'd person carries it
    "surname_only": 0.05,     # "First Last" packed into the surname field
}
OPENALEX_SHARE = 0.80         # payload DOIs with an OpenAlex work
CITED_BY_YEAR = 2024
SEED_SIZES = {"authors": 156, "countries": 250, "workstreams": 33,
              "subws": 31, "partners": 11, "wp_members": 48,
              "partner_members": 31}
BATCH_DOIS = 50

FIRST = ("Anna Ben Carla Dmitri Elena Farid Grace Hiro Ines Jonas Karla Liam "
         "Mona Nils Olga Pedro Quinn Rosa Sven Tara Umar Vera Wim Xenia Yusuf "
         "Zoe Abel Bruna Cyril Dana Emil Fiona Gustav Hanna Ivan Julia Kofi "
         "Lena Marco Nadia Oscar Petra Raul Sofia Tomas Ulla Viktor Wanda "
         "Yara Zeno Alma Bruno Clara Diego Edith Felix Greta Hugo Iris Jan"
         ).split()
LAST = ("Allington Barron Cannone Dalton Eriksen Fischer Garcia Halvorsen "
        "Ibrahim Jensen Kowalski Larsen Moreau Nakamura Okafor Pappis Quist "
        "Rossi Sridharan Tanaka Usher Varga Weber Xu Yilmaz Zimmer Abbott "
        "Bergstrom Castillo Dubois Eklund Ferreira Gallo Horvat Ivanova "
        "Johansson Keller Lindqvist Mendes Novak Olsen Petrov Romero Schulz "
        "Thorsen Ulrich Vidal Wagner Young Zamora Adeyemi Brandt Costa Delgado "
        "Engel Fontaine Grieco Hoffmann Iversen Jovanovic Kruger Laine Marsh "
        "Nilsen Ortega Pye Quintero Reyes Strand Torres Urban Vogel Walsh"
        ).split()
WORDS = ("energy model climate policy grid demand supply storage transition "
         "scenario carbon solar wind hydro cost access rural urban planning "
         "analysis data open source tool regional national emission pathway "
         "investment electricity cooking heat transport water land use "
         "capacity expansion optimisation uncertainty assessment framework"
         ).split()
RESULT_TYPES = [("publication", 0.7), ("dataset", 0.2), ("software", 0.1)]

DOI_RE = re.compile(r"10\.\d{4,9}/(?=.*\d)[-._;()/:A-Z0-9]+$", re.I)


# ------------------------------------------------------- shared kernels ---

def mint_uuid(key):
    """Name-based uuid exactly as EntityResolution.mintUuid derives it."""
    h = hashlib.sha256(key.encode("utf-8")).hexdigest()
    return "-".join([h[0:8], h[8:12], "5" + h[13:16], "8" + h[17:20],
                     h[20:32]])


def normalize_doi(doi):
    s = doi.strip().rstrip(".")
    return s.replace("https://doi.org/", "").replace("doi.org/", "")


def valid_doi(doi):
    return DOI_RE.search(doi) is not None


def ratio(a, b):
    return difflib.SequenceMatcher(None, a, b).ratio()


def name_similarity(existing, mention, threshold=0.8):
    """score_name_similarity with the reversed-name retry."""
    a, b = existing.strip().lower(), mention.strip().lower()
    ra = ratio(a, b)
    if ra > threshold:
        return ra
    rb = ratio(" ".join(reversed(a.split(" "))), b)
    return rb if rb > threshold else (ra + rb) / 2.0


def repair_name(name, surname):
    """The parser's author-name repair for the forms the generator emits
    (plain, single-token title-case names or "First Last" in the surname
    field). Returns (first, last) or None when the mention is dropped."""
    first, last = (name or "").title(), (surname or "").title()
    if first and first in last:
        last = last.replace(first, "").strip(" ")
    if last and last in first:
        first = first.replace(last, "").strip(" ")
    if last and not first:
        tok = last.split(" ")
        if len(tok) < 2:
            return None
        first, last = tok[0], " ".join(tok[1:]) if len(tok) > 2 else tok[1]
    if not first or not last:
        return None
    return first, last


# ------------------------------------------------------------ the truth ---

class Warehouse:
    """In-memory model of the graph after each operation."""

    def __init__(self):
        self.outputs = {}        # doi -> output uuid
        self.authors = []        # rows: (uuid, first, last, orcid)
        self.author_uuids = set()
        self.author_of = set()   # (author uuid, output uuid)
        self.refers_to = set()   # (output uuid, country id)
        self.texts = {}          # output uuid -> (title, abstract)
        self.countries = []      # (id, name)

    def counts(self):
        return {"outputs": len(self.outputs), "authors": len(self.authors),
                "author_of": len(self.author_of),
                "refers_to": len(self.refers_to)}

    def edge_digests(self):
        """sha256 of each edge table's sorted "src\tdst\n" lines, as the
        harness digests the stored tables."""
        out = {}
        for name, pairs in (("author_of", self.author_of),
                            ("refers_to", self.refers_to)):
            h = hashlib.sha256()
            for line in sorted(f"{a}\t{b}\n" for a, b in pairs):
                h.update(line.encode("utf-8"))
            out[name] = h.hexdigest()
        return out

    def add_author(self, row):
        if row[0] not in self.author_uuids:
            self.author_uuids.add(row[0])
            self.authors.append(row)

    def _indexes(self):
        by_orcid, by_name, by_init = {}, {}, {}

        def keep_min(d, k, row):
            if k not in d or row[0] < d[k][0]:
                d[k] = row
        for row in self.authors:
            uuid, first, last, orcid = row
            if orcid is not None:
                keep_min(by_orcid, orcid, row)
            keep_min(by_name, " ".join(x for x in (first, last) if x), row)
            keep_min(by_init, " ".join(x for x in (first[:1], last) if x),
                     row)
        return by_orcid, by_name, by_init

    def resolve(self, mentions):
        """mentions: (output uuid, first, last, orcid, rank) in arrival
        order. Returns [(author uuid, resolved_by)] and appends the minted
        authors."""
        by_orcid, by_name, by_init = self._indexes()
        out, minted = [], {}
        for (_, first, last, orcid, _) in mentions:
            full = f"{first} {last}"
            hit = by_orcid.get(orcid) if orcid else None
            if hit and name_similarity(f"{hit[1]} {hit[2]}", full) >= 0.8:
                out.append((hit[0], "orcid"))
            elif full in by_name:
                out.append((by_name[full][0], "name"))
            elif f"{first[:1]} {last}" in by_init:
                out.append((by_init[f"{first[:1]} {last}"][0], "initial"))
            else:
                nat = orcid if orcid else full.lower()
                uuid = mint_uuid("author:" + nat)
                minted.setdefault(uuid, (uuid, first, last, orcid))
                out.append((uuid, "minted"))
        for row in minted.values():
            self.add_author(row)
        return out

    def link(self):
        pairs = set()
        for ouuid, (title, abstract) in self.texts.items():
            for cid, name in self.countries:
                if (abstract is not None and name in abstract) or \
                        name in title:
                    pairs.add((ouuid, cid))
        return pairs

    def apply(self, submissions, payloads, openalex, update):
        """One Ingest.run. submissions: raw DOI strings in file order.
        payloads: doi -> article dict or None (empty results); DOIs absent
        from the map have no payload file. Returns (report, deltas)."""
        before = self.counts()
        seen, tracker = set(), []
        for raw in submissions:
            raw = raw.strip()
            if not raw:
                continue
            doi = normalize_doi(raw)
            tracker.append({"doi": doi, "valid": valid_doi(doi),
                            "dup": doi in seen,
                            "exists": doi in self.outputs})
            seen.add(doi)
        for t in tracker:
            t["ingest"] = t["valid"] and not t["dup"] and \
                (update or not t["exists"])
            art = payloads.get(t["doi"]) if t["ingest"] else None
            t["openaire"] = art is not None
            t["openalex"] = art is not None and t["doi"] in openalex
            t["success"] = t["openaire"] and t["valid"]
        distinct = [t for t in tracker if not t["dup"]]
        new = [t for t in distinct if t["valid"] and not t["exists"]]
        processed = [t for t in distinct if t["valid"]] if update else new
        report = {
            "submitted_dois": len(tracker),
            "duplicated_submissions": sum(t["dup"] for t in tracker),
            "processed_dois": len(processed),
            "new_dois": len(new),
            "existing_dois": sum(t["exists"] for t in distinct),
            "updated_existing_dois":
                sum(t["success"] and t["exists"] for t in processed),
            "ingested_dois": sum(t["success"] for t in distinct),
            "metadata_pass": sum(t["success"] for t in processed),
            "metadata_failure": sum(not t["success"] for t in processed),
            "valid_pattern_dois": sum(t["valid"] for t in distinct),
            "invalid_pattern_dois": sum(not t["valid"] for t in distinct),
            "openalex_success": sum(t["openalex"] for t in processed),
            "openaire_success": sum(t["openaire"] for t in processed),
        }
        mentions = []
        for t in tracker:
            if not t["openaire"]:
                continue
            art = payloads[t["doi"]]
            ouuid = mint_uuid("output:" + t["doi"])
            self.outputs[t["doi"]] = ouuid
            self.texts[ouuid] = (art["title"], art["abstract"])
            for a in art["authors"]:
                rep = repair_name(a["name"], a["surname"])
                if rep is None:
                    continue
                orcid = "https://orcid.org/" + a["orcid"] if a["orcid"] \
                    else None
                mentions.append((ouuid, rep[0], rep[1], orcid, a["rank"]))
        for (ouuid, *_), (auuid, _) in zip(mentions, self.resolve(mentions)):
            self.author_of.add((auuid, ouuid))
        self.refers_to |= self.link()
        after = self.counts()
        return report, {k: after[k] - before[k] for k in after}


# ------------------------------------------------------------ generator ---

class Persons:
    """The author population: seed authors plus people introduced by the
    generated articles."""

    def __init__(self, rng):
        self.rng = rng
        self.known = []     # persons stored in the warehouse by now
        self.orcids = set()

    def new_orcid(self):
        while True:
            o = "0000-000%d-%04d-%04d" % (self.rng.randint(1, 3),
                                          self.rng.randint(0, 9999),
                                          self.rng.randint(0, 9999))
            if o not in self.orcids:
                self.orcids.add(o)
                return o

    def new_person(self, with_orcid):
        while True:
            first, last = self.rng.choice(FIRST), self.rng.choice(LAST)
            if first not in last and last not in first:
                break
        return {"first": first, "last": last,
                "orcid": self.new_orcid() if with_orcid else None}


def variant(rng, first, last):
    """A spelling that keeps the initial and the surname, so the
    initial+surname stage always finds the stored person. Spellings that
    the parser's containment strip would rewrite are skipped."""
    cands = [c for c in ([first[:-1]] if len(first) > 3 else []) + [first[0]]
             if c not in last]
    return rng.choice(cands) if cands else first


def make_article(rng, persons, intro):
    """intro: persons first seen in this op (canonical spelling only, so no
    minted author depends on which mention arrives first)."""
    n = rng.choices([1, 2, 3, 4, 5, 6], [10, 20, 25, 20, 15, 10])[0]
    chosen, authors = set(), []
    for rank in range(1, n + 1):
        if persons.known and rng.random() < AUTHOR_RATES["recurring"]:
            p = rng.choice(persons.known)
            vary = rng.random() < AUTHOR_RATES["variant"]
        else:
            p = persons.new_person(rng.random() < AUTHOR_RATES["person_orcid"])
            intro.append(p)
            vary = False
        if id(p) in chosen:
            continue
        chosen.add(id(p))
        first = variant(rng, p["first"], p["last"]) if vary else p["first"]
        orcid = p["orcid"] if p["orcid"] and \
            rng.random() < AUTHOR_RATES["mention_orcid"] else None
        if rng.random() < AUTHOR_RATES["surname_only"] and not vary:
            name, surname = None, f"{first} {p['last']}"
        else:
            name, surname = first, p["last"]
        authors.append({"name": name, "surname": surname, "orcid": orcid,
                        "rank": len(authors) + 1})
    return authors


def text(rng, lo, hi, countries, p_country):
    words = [rng.choice(WORDS) for _ in range(rng.randint(lo, hi))]
    if rng.random() < p_country:
        for _ in range(rng.randint(1, 2)):
            words.insert(rng.randrange(len(words) + 1),
                         rng.choice(countries)[1])
    return " ".join(words)


def payload_json(doi, art):
    if art is None:
        return json.dumps({"header": {"numFound": 0, "page": 1,
                                      "pageSize": 10, "queryTime": 3},
                           "results": []})
    authors = []
    for a in art["authors"]:
        e = {"fullName": f"{a['surname']}, {a['name'] or ''}".strip(", "),
             "rank": a["rank"], "surname": a["surname"]}
        if a["name"] is not None:
            e["name"] = a["name"]
        e["pid"] = ({"id": {"scheme": "orcid", "value": a["orcid"]},
                     "provenance": None} if a["orcid"] else None)
        authors.append(e)
    r = {"mainTitle": art["title"], "publisher": "Synthetic Press",
         "journal": {"$": "Journal of Synthetic Energy"},
         "authors": authors, "type": art["type"],
         "resourcetype": {"@schemeid": "dnet:publication_resource",
                          "@classname": "Article"},
         "publicationDate": art["date"]}
    if art["abstract"] is not None:
        r["descriptions"] = [art["abstract"]]
    return json.dumps({"header": {"numFound": 1, "maxScore": 1.0, "page": 1,
                                  "pageSize": 10, "queryTime": 5},
                       "results": [r]})


def write_seed(rng, d, persons, wh):
    os.makedirs(d, exist_ok=True)
    seed_rows = []
    for i in range(SEED_SIZES["authors"]):
        p = persons.new_person(rng.random() < 0.75)
        p["uuid"] = "%08x-%04x-4%03x-a%03x-%012x" % tuple(
            rng.getrandbits(b) for b in (32, 16, 12, 12, 48))
        persons.known.append(p)
        orcid = "https://orcid.org/" + p["orcid"] if p["orcid"] else None
        seed_rows.append(p)
        wh.add_author((p["uuid"], p["first"], p["last"], orcid))

    def w(name, header, rows):
        with open(os.path.join(d, name), "w", newline="") as f:
            c = csv.writer(f)
            c.writerow(header)
            c.writerows(rows)
    w("authors.csv", ["uuid", "first_name", "last_name", "Orcid",
                      "google_scholar", "pubmed", "institution_url",
                      "gender"],
      [[p["uuid"], p["first"], p["last"],
        "https://orcid.org/" + p["orcid"] if p["orcid"] else "", "", "", "",
        ""] for p in seed_rows])

    names, codes = set(), set()
    syll = "ba ca da fa ga ha ka la ma na pa ra sa ta va za bo co do go lo " \
        "mo no ro so to vo ku lu mu nu ru tu ri li ni mi vi ".split()
    countries = []
    while len(countries) < SEED_SIZES["countries"]:
        nm = "".join(rng.choice(syll) for _ in range(rng.randint(2, 3)))
        nm = nm.capitalize() + rng.choice(["ia", "stan", "land", "a", "o"])
        code = "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ")
                       for _ in range(3))
        if nm in names or code in codes:
            continue
        names.add(nm)
        codes.add(code)
        countries.append((code, nm))
    wh.countries = countries
    w("countries.csv", ["name.common", "name.official", "cca3", "latlng",
                        "region"],
      [[nm, "Republic of " + nm, code,
        "%.2f,%.2f" % (rng.uniform(-60, 70), rng.uniform(-170, 170)),
        "Synthetic"] for code, nm in countries])

    ws = [f"ws{i:02d}" for i in range(SEED_SIZES["workstreams"])]
    w("workstream.csv", ["id", "name", "description", "theme"],
      [[i, f"Workstream {i}", "synthetic", "theme"] for i in ws])
    w("subws.csv", ["parent", "child"],
      [[ws[0] if i < 5 else ws[rng.randrange(5)], ws[i + 1]]
       for i in range(SEED_SIZES["subws"])])
    partners = [f"partner{i:02d}" for i in range(SEED_SIZES["partners"])]
    w("project_partners.csv", ["id", "name", "dbpedia", "ror", "openalex"],
      [[p, f"Partner {p}", "", "", ""] for p in partners])

    def member():
        # resolvable by ORCID or exact name; one in eight is unknown
        if rng.random() < 0.125:
            return "Nobody " + rng.choice(LAST), ""
        q = rng.choice(seed_rows)
        return f"{q['first']} {q['last']}", \
            "https://orcid.org/" + q["orcid"] if q["orcid"] else ""
    wp = []
    for _ in range(SEED_SIZES["wp_members"]):
        nm, orc = member()
        wp.append([rng.choice(ws), nm, "member", orc, "2020", "2024"])
    w("wp_members.csv", ["id", "name", "role", "orcid", "start", "end"], wp)
    pm = []
    for _ in range(SEED_SIZES["partner_members"]):
        nm, orc = member()
        pm.append([rng.choice(partners), nm, orc])
    w("partner_members.csv", ["id", "name", "orcid"], pm)
    return {"outputs": 0, "authors": SEED_SIZES["authors"], "author_of": 0,
            "refers_to": 0}


def make_op(rng, tag, n, persons, countries, ingested, invalid_seq):
    """One operation's submissions and payloads. Returns (submissions,
    payloads: doi -> article or None, fresh DOIs with payload)."""
    k = {r: round(n * RATES[r]) for r in RATES}
    if not ingested:
        k["existing"] = 0
    n_fresh = n - sum(k.values())
    fresh = [f"10.5555/pb.{tag}.{i}" for i in range(
        n_fresh + k["missing_payload"] + k["empty_payload"])]
    subs, payloads, intro = [], {}, []
    for i, doi in enumerate(fresh):
        subs.append(doi)
        if i >= n_fresh + k["missing_payload"]:
            payloads[doi] = None
        elif i < n_fresh:
            payloads[doi] = {
                "title": text(rng, 4, 10, countries, 0.2),
                "abstract": text(rng, 20, 60, countries, 0.5)
                if rng.random() < 0.9 else None,
                "authors": make_article(rng, persons, intro),
                "type": rng.choices([t for t, _ in RESULT_TYPES],
                                    [w for _, w in RESULT_TYPES])[0],
                "date": "20%02d-%02d-%02d" % (rng.randint(15, 24),
                                              rng.randint(1, 12),
                                              rng.randint(1, 28))}
    subs.extend(rng.sample(ingested, k["existing"]))
    for _ in range(k["invalid"]):
        invalid_seq[0] += 1
        subs.append(rng.choice([f"10.12/{tag}x{invalid_seq[0]}",
                                f"10.5555/pb-{''.join(rng.choice('abcxyz') for _ in range(6))}"]))
    rng.shuffle(subs)
    for _ in range(k["duplicate"]):
        d = rng.choice(fresh)
        subs.insert(rng.randrange(len(subs) + 1),
                    rng.choice([d, "https://doi.org/" + d, d + "."]))
    # people introduced here are known to later ops
    seen = {id(p) for p in persons.known}
    persons.known.extend(p for p in intro if id(p) not in seen)
    return subs, payloads, fresh[:n_fresh]


def write_op(d, op_id, subs, payloads):
    od = os.path.join(d, "ops", op_id)
    pd = os.path.join(od, "payloads")
    os.makedirs(pd, exist_ok=True)
    with open(os.path.join(od, "dois.txt"), "w") as f:
        f.write("\n".join(subs) + "\n")
    size = 0
    for doi, art in payloads.items():
        body = payload_json(doi, art).encode("utf-8")
        size += len(body)
        with open(os.path.join(pd, doi.replace("/", "") + ".json"),
                  "wb") as f:
            f.write(body)
    return os.path.relpath(od, d), size


def write_openalex(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rows = sorted(rows.items())
    pq.write_table(pa.table({
        "doi": [r[0] for r in rows],
        "id": ["https://openalex.org/W%d" % (10 ** 9 + i)
               for i in range(len(rows))],
        "cited_by_count": pa.array([r[1] for r in rows], pa.int64())}),
        path)


def make_ingest(seed, d, batches=0, backfill_dois=0):
    """Generate an ingest workload under d: `batches` consecutive 50-DOI
    inserts, or one backfill of `backfill_dois` submissions: insert,
    update re-run and identical insert re-run. Returns the truth dict."""
    kind = "batches" if batches else "backfill"
    rng = random.Random(f"{kind}:{seed}")
    persons, wh = Persons(rng), Warehouse()
    os.makedirs(d, exist_ok=True)
    setup_counts = write_seed(rng, os.path.join(d, "init"), persons, wh)
    assert setup_counts == wh.counts(), "seed truth disagrees with itself"
    setup_edges = wh.edge_digests()
    specs = [(f"b{i:03d}", BATCH_DOIS) for i in range(batches)] or \
        [("insert", backfill_dois)]
    plan, truth_ops, ingested, inv, alex = [], [], [], [0], {}
    for tag, n in specs:
        subs, payloads, fresh = make_op(rng, tag, n, persons, wh.countries,
                                        ingested, inv)
        for doi in fresh:
            if rng.random() < OPENALEX_SHARE:
                alex[doi] = rng.randint(0, 400)
        op_dir, size = write_op(d, tag, subs, payloads)
        phases = ("insert", "update", "reingest") if kind == "backfill" \
            else ("insert",)
        for phase in phases:
            update = phase == "update"
            table, works = "openalex.parquet", alex
            if phase != "insert":
                # re-runs see changed citation counts
                table = "openalex_v2.parquet"
                works = {k: v + 1 + hash_int(k) % 7 for k, v in alex.items()}
            rep, delta = wh.apply(subs, payloads, works, update=update)
            op = tag if phase == "insert" else phase
            plan.append([op, "update" if update else "insert", op_dir, table])
            truth_ops.append({"op": op, "mode": plan[-1][1], "report": rep,
                              "delta": delta, "edges": wh.edge_digests(),
                              "payload_bytes": size,
                              "submitted": len(subs)})
            write_openalex(os.path.join(d, table), works)
        ingested.extend(fresh)
    with open(os.path.join(d, "plan.tsv"), "w") as f:
        for row in plan:
            f.write("\t".join(row) + "\n")
    truth = {"seed": seed, "rates": RATES, "author_rates": AUTHOR_RATES,
             "openalex_share": OPENALEX_SHARE,
             "cited_by_count_year": CITED_BY_YEAR,
             "setup_counts": setup_counts,
             "setup_edges": setup_edges, "ops": truth_ops}
    with open(os.path.join(d, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1)
    return truth


def hash_int(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


# --------------------------------------------------------- suite tables ---

# The shape of the repository's sf0.01 test tables (TESTDATA.md), as
# `shape.py` measures it; NOTES.md lists the measured figures beside the
# ones these constants produce.
SUITE_SIZES = {"documents": 500, "embeddings": 500, "lineitem": 60000,
               "orders": 15000, "parts": 2000, "suppliers": 100}
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
DOC_WORDS = (10, 99)          # words per document, uniform
NEAR_DUP_SHARE = 0.05         # another document's text plus " dup"
SOURCES = 20                  # source = src<doc_id mod 20>
LANGS = [("en", 0.436), ("zh", 0.150), ("es", 0.146), ("de", 0.140),
         ("fr", 0.128)]
EMB_DIM, EMB_CLUSTERS = 64, 10
EMB_NOISE = 30.0              # noise / centre scale: labels carry little signal
SHIP_FIRST, SHIP_DAYS = "1995-01-02", 2499


def make_suite(seed, d):
    """documents / lineitem / embeddings in the columns SparkEntry.queries
    read (one parquet file per table). Every document, vector and line item
    is drawn independently; the sf0.01 tables hold no exact duplicate
    text, no email address and no long digit run, so neither do these."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(f"suite:{seed}")
    nrng = np.random.default_rng(rng.getrandbits(63))
    os.makedirs(d, exist_ok=True)
    n = SUITE_SIZES["documents"]
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(*DOC_WORDS)))
             for _ in range(n)]
    for i in rng.sample(range(n), round(n * NEAR_DUP_SHARE)):
        while True:     # no two documents end up with the same text
            t = texts[rng.choice([j for j in range(n) if j != i])] + " dup"
            if t not in texts:
                texts[i] = t
                break
    langs = rng.choices([l for l, _ in LANGS], [w for _, w in LANGS], k=n)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts, "lang": langs,
        "source": [f"src{i % SOURCES}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(d, "documents.parquet"))

    m = SUITE_SIZES["embeddings"]
    centers = nrng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    labels = nrng.integers(0, EMB_CLUSTERS, size=m)
    emb = centers[labels] + EMB_NOISE * nrng.normal(size=(m, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        os.path.join(d, "embeddings.parquet"))

    k = SUITE_SIZES["lineitem"]
    pq.write_table(pa.table({
        "l_orderkey": nrng.integers(0, SUITE_SIZES["orders"], size=k,
                                    dtype=np.int64),
        "l_partkey": nrng.integers(0, SUITE_SIZES["parts"], size=k,
                                   dtype=np.int64),
        "l_suppkey": nrng.integers(0, SUITE_SIZES["suppliers"], size=k,
                                   dtype=np.int64),
        "l_linenumber": pa.array(nrng.integers(1, 8, size=k).astype("int32")),
        "l_quantity": nrng.integers(1, 51, size=k).astype("float64"),
        "l_extendedprice": np.round(nrng.uniform(900, 105000, size=k), 2),
        "l_discount": np.round(nrng.integers(0, 11, size=k) / 100, 2),
        "l_tax": np.round(nrng.integers(0, 9, size=k) / 100, 2),
        "l_returnflag": nrng.choice(["A", "N", "R"], size=k),
        "l_linestatus": nrng.choice(["F", "O"], size=k),
        "l_shipdate": pa.array(
            (np.datetime64(SHIP_FIRST) +
             nrng.integers(0, SHIP_DAYS, size=k).astype("timedelta64[D]"))
            .astype("datetime64[us]"))}),
        os.path.join(d, "lineitem.parquet"))
    return {"documents": n, "embeddings": m, "lineitem": k}
