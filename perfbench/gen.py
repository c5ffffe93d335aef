"""Seeded input generator for the benchmark workloads.

The same seed always yields byte-identical files. Every workload draws from
its own `random.Random`, seeded from (seed, workload name), so resizing one
workload never shifts another's inputs.

Layout written under `out_dir`:

  publish/services/*.jsonl  nested data.gouv.fr-shaped services table
  publish/meta.json         rows, bytes, expected staged/mart/located counts
  rights/batch_0.jsonl      the documents that bootstrap the store, owned
                            ones mixed with planted duplicates and docs
                            with no consent grant
  rights/owners.jsonl       subject_id -> doc_id owner mapping
  rights/consent.jsonl      grants: per document (admission purpose) and
                            per subject (the purpose requests withdraw)
  rights/script.jsonl       request cycles: one subject per verb per cycle
  rights/corrections.jsonl  rectification texts per cycle
  rights/exact_dups.txt     ids of planted exact duplicates, one a line
  rights/denied.txt         ids with no consent grant, one a line
  rights/meta.json          sizes

Run as a script to write the files: python3 gen.py <out_dir> <seed>
"""

import hashlib
import json
import os
import random
import sys

# Sizes. Small enough that a run fits its time budget on a 4-core box,
# large enough that every stage runs one task per core.
PUBLISH_ROWS = 20000
PUBLISH_PARTS = 8
RIGHTS_SUBJECTS = 120
RIGHTS_DOCS_PER_SUBJECT = 5
RIGHTS_CYCLES = 30

ORG_TYPES = [
    "administration-centrale-ou-ministere", "cabinet-ministeriel",
    "service-a-competence-nationale", "secretaire-d-etat",
    "service-deconcentre", "autorite-publique-independante",
    "autorite-administrative-independante", "etablissement-public",
    "groupement-d-interet-public", "etablissement-d-enseignement",
    "ambassade-ou-mission-diplomatique", "institution-europeenne",
    "institution", "conseil-comite-commission-organisme-consultatif",
    "mairie", "prefecture", "caf", "cpam",
]
KINDS = ["Mairie", "Prefecture", "Caisse", "Agence", "Tribunal", "Bureau",
         "Direction", "Centre", "Office", "Service"]
CITIES = [
    ("Paris", "75"), ("Lille", "59"), ("Lyon", "69"), ("Marseille", "13"),
    ("Bordeaux", "33"), ("Toulouse", "31"), ("Nantes", "44"),
    ("Rennes", "35"), ("Nice", "06"), ("Arras", "62"), ("Dijon", "21"),
    ("Versailles", "78"), ("Evry", "91"), ("Creteil", "94"),
    ("Toulon", "83"), ("Pau", "64"), ("Albi", "81"), ("Tours", "37"),
]
STREETS = ["rue de la Paix", "avenue Victor Hugo", "boulevard Carnot",
           "place de la Mairie", "impasse des Lilas", "rue Jean Jaures"]
PARENTS = ["Ministere de l'Interieur", "Ministere de la Justice",
           "Ministere des Armees", "Ministere de la Culture", None]

WORDS = (
    "river market window garden engine signal harbor meadow planet silver "
    "orange forest letter bridge candle travel summer winter morning number "
    "system service public record office policy report county council "
    "budget school health train station museum library street building "
    "history science nature animal family friend season weather mountain "
    "valley ocean island desert village castle theatre concert picture "
    "camera music poem story novel chapter reader writer teacher student "
    "doctor nurse farmer baker driver pilot sailor worker leader member "
    "people person child parent mother father sister brother cousin uncle "
    "kitchen table chair carpet mirror pillow blanket basket bottle bucket "
    "hammer ladder pencil marker folder paper ticket wallet jacket shirt "
    "button pocket collar sleeve boots gloves scarf helmet shield sword "
    "dragon tiger rabbit turtle falcon salmon spider beetle cattle sheep "
    "apple cherry lemon melon peach grape carrot onion potato pepper "
    "yellow purple violet golden bright quiet gentle clever honest humble "
    "rapid steady narrow broad simple modern ancient hidden distant nearby "
    "build carry catch climb cover create dance drive enjoy enter follow "
    "gather handle invite listen manage notice offer open order paint "
    "plant prepare protect reach repair return share start study travel"
).split()
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that"]


def _rng(seed, stream):
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


def _write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(json.dumps(r, ensure_ascii=False, separators=(",", ":")))
            f.write("\n")


def _write_json(path, obj):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        json.dump(obj, f, sort_keys=True, indent=1)
        f.write("\n")


def _text(rng, n_lo=70, n_hi=110):
    """English-looking prose that passes the curation quality gates:
    >= 64 tokens, ~18% stopwords (language id says `en`), no repetition."""
    n = rng.randint(n_lo, n_hi)
    out = []
    for _ in range(n):
        if rng.random() < 0.18:
            out.append(rng.choice(STOPWORDS))
        else:
            out.append(rng.choice(WORDS))
    return " ".join(out)


def _near_dup(rng, text):
    toks = text.split()
    i = rng.randrange(len(toks))
    toks[i] = rng.choice(WORDS)
    return " ".join(toks)


# ---------------------------------------------------------------- publish

def _service(rng, i):
    city, dept = rng.choice(CITIES)
    name = None if rng.random() < 0.01 else \
        f"{rng.choice(KINDS)} {city} {i % 997}"
    u = rng.random()
    org_type = (None if u < 0.02 else
                f"type-inconnu-{rng.randint(1, 9)}" if u < 0.06 else
                rng.choice(ORG_TYPES))
    u = rng.random()
    email = (None if u < 0.12 else
             f"accueil.{i}@{city.lower()}.gouv.fr")
    phone = (None if rng.random() < 0.15 else
             "+33 %d %02d %02d %02d %02d" % tuple(
                 [rng.randint(1, 9)] + [rng.randint(0, 99) for _ in range(4)]))
    u = rng.random()
    website = (None if u < 0.15 else [] if u < 0.20 else
               [f"https://www.{city.lower()}.gouv.fr/s{i}"] if u < 0.9 else
               [f"https://www.{city.lower()}.gouv.fr/s{i}",
                f"https://annuaire.gouv.fr/s{i}"])
    if rng.random() < 0.06:
        address = None
    else:
        street = None if rng.random() < 0.03 else \
            f"{rng.randint(1, 120)} {rng.choice(STREETS)}"
        address = {"streetAddress": street,
                   "postalCode": f"{dept}{rng.randint(0, 999):03d}",
                   "addressLocality": "" if rng.random() < 0.02 else city}
    if rng.random() < 0.08:
        geo = None
    else:
        geo = {"latitude": round(rng.uniform(42.5, 50.9), 6),
               "longitude": round(rng.uniform(-4.4, 7.9), 6),
               "commune": city,
               "insee_comm": f"{dept}{rng.randint(0, 999):03d}"}
    update = None if rng.random() < 0.05 else \
        "20%02d-%02d-%02d" % (rng.randint(18, 24), rng.randint(1, 12),
                              rng.randint(1, 28))
    row = {"id": f"svc-{i:07d}", "name": name,
           "parent_name": rng.choice(PARENTS), "type": org_type,
           "contact_email": email, "contact_phone": phone,
           "website": website, "writeAddress": address, "geo": geo,
           "update": update}
    staged = name is not None
    located = staged and geo is not None
    has_any = (email is not None or phone is not None or located or
               (address is not None and address["streetAddress"] is not None))
    in_mart = staged and org_type is not None and has_any
    return row, staged, located, in_mart


def gen_publish(out_dir, seed, rows=PUBLISH_ROWS):
    rng = _rng(seed, "publish")
    d = os.path.join(out_dir, "publish")
    os.makedirs(d, exist_ok=True)
    staged = located = mart = 0
    recs = []
    for i in range(rows):
        row, s, loc, m = _service(rng, i)
        recs.append(row)
        staged += s
        located += loc
        mart += m
    svc = os.path.join(d, "services")
    os.makedirs(svc, exist_ok=True)
    n_bytes = 0
    for p in range(PUBLISH_PARTS):
        path = os.path.join(svc, f"part-{p:05d}.jsonl")
        _write_jsonl(path, recs[p::PUBLISH_PARTS])
        n_bytes += os.path.getsize(path)
    meta = {"rows": rows, "bytes": n_bytes,
            "staged_rows": staged, "located_rows": located,
            "mart_rows": mart}
    _write_json(os.path.join(d, "meta.json"), meta)
    return meta


# ----------------------------------------------------------------- rights

def gen_rights(out_dir, seed, n_subjects=RIGHTS_SUBJECTS,
               docs_per_subject=RIGHTS_DOCS_PER_SUBJECT,
               cycles=RIGHTS_CYCLES):
    """One batch bootstraps the store: `n_subjects` people own
    `docs_per_subject` documents each, and the request script names only
    them. Unowned documents are planted among them: exact duplicates of an
    owned document, near duplicates, and documents with no consent grant."""
    rng = _rng(seed, "rights")
    d = os.path.join(out_dir, "rights")
    os.makedirs(d, exist_ok=True)
    owners, grants, rows, admitted = [], [], [], []
    exact_dups, denied = [], []
    owned = {}

    def grant(subject, purpose):
        grants.append({"subject_id": subject, "purpose": purpose,
                       "granted": True, "updated_at": 1700000000000})

    slots = [s for s in range(n_subjects) for _ in range(docs_per_subject)]
    rng.shuffle(slots)
    for subject in slots:
        doc_id = len(rows)
        u = rng.random()
        if u < 0.06 and admitted:
            rows.append({"doc_id": doc_id, "text": rng.choice(admitted)})
            exact_dups.append(doc_id)
            grant(doc_id, "training")
        elif u < 0.10 and admitted:
            rows.append({"doc_id": doc_id,
                         "text": _near_dup(rng, rng.choice(admitted))})
            grant(doc_id, "training")
        elif u < 0.13:
            rows.append({"doc_id": doc_id, "text": _text(rng)})
            denied.append(doc_id)
        doc_id = len(rows)
        rows.append({"doc_id": doc_id, "text": _text(rng)})
        admitted.append(rows[-1]["text"])
        owners.append({"subject_id": subject, "doc_id": doc_id})
        owned.setdefault(subject, []).append(doc_id)
        grant(doc_id, "training")
    batch = [{"doc_id": r["doc_id"], "source": f"src{rng.randint(0, 5)}",
              "lang": "en", "text": r["text"]} for r in rows]
    _write_jsonl(os.path.join(d, "batch_0.jsonl"), batch)
    for s in range(n_subjects):
        grant(s, "analytics")

    # every cycle takes four fresh subjects (forget, withdraw, erase,
    # rectify), so no subject is changed by two requests
    assert 4 * cycles <= n_subjects, "not enough subjects for the script"
    pool = list(range(n_subjects))
    rng.shuffle(pool)
    script, corrections = [], []
    for c in range(cycles):
        f, w, e, r = pool[4 * c:4 * c + 4]
        script.append({"cycle": c, "forget": f, "withdraw": w, "erase": e,
                       "rectify": r})
        corrections.extend({"cycle": c, "doc_id": doc, "text": _text(rng)}
                           for doc in sorted(owned[r]))

    _write_jsonl(os.path.join(d, "owners.jsonl"), owners)
    _write_jsonl(os.path.join(d, "consent.jsonl"), grants)
    _write_jsonl(os.path.join(d, "script.jsonl"), script)
    _write_jsonl(os.path.join(d, "corrections.jsonl"), corrections)
    for name, ids in (("exact_dups.txt", exact_dups), ("denied.txt", denied)):
        with open(os.path.join(d, name), "w", encoding="utf-8",
                  newline="\n") as f:
            f.writelines(f"{i}\n" for i in ids)
    meta = {"docs": len(batch), "owned_docs": len(owners),
            "subjects": n_subjects, "cycles": cycles,
            "batch_bytes": os.path.getsize(os.path.join(d, "batch_0.jsonl")),
            "exact_dups": len(exact_dups), "denied": len(denied)}
    _write_json(os.path.join(d, "meta.json"), meta)
    return meta


GENERATORS = {"publish": gen_publish, "rights": gen_rights}


def generate(out_dir, seed, workloads=tuple(GENERATORS)):
    os.makedirs(out_dir, exist_ok=True)
    return {w: GENERATORS[w](out_dir, seed) for w in workloads}


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: gen.py <out_dir> <seed>")
    generate(sys.argv[1], int(sys.argv[2]))
