"""Seeded generator of pt-BR ledger CSVs and their ground truth.

A ledger CSV has the seven columns the ingest contract requires
(Descrição, Tipo, Grupo, Categoria, Classificação, Data, Valor), accented
vocabularies, "MM/YYYY" months and "1.234,56" amounts. A small share of
rows leaves one required field blank; the permissive ingest rejects them.

Every accepted row carries a unique description, so no two rows share a
dedup hash and the truth is a plain sum over accepted rows. The truth is
kept in integer cents, so the checks compare money exactly.
"""

import csv
import io
import random
from collections import defaultdict

HEADER = ["Descrição", "Tipo", "Grupo", "Categoria", "Classificação", "Data", "Valor"]

# tipo -> grupo -> categorias
VOCAB = {
    "Despesa": {
        "Moradia": ["Aluguel", "Condomínio", "Energia Elétrica", "Água e Esgoto"],
        "Alimentação": ["Supermercado", "Padaria", "Restaurante", "Açougue"],
        "Saúde": ["Farmácia", "Plano de Saúde", "Consultas"],
        "Lazer": ["Cinema", "Viagens", "Assinaturas"],
        "Transporte": ["Combustível", "Ônibus", "Manutenção"],
        "Educação": ["Mensalidade", "Livros", "Cursos Online"],
    },
    "Receita": {
        "Trabalho": ["Salário", "Décimo Terceiro", "Férias"],
        "Rendimentos": ["Juros", "Dividendos"],
        "Vendas": ["Usados", "Artesanato"],
    },
    "Investimento": {
        "Renda Fixa": ["Tesouro Direto", "CDB", "Poupança"],
        "Ações": ["Bolsa Nacional", "Fundos Imobiliários"],
    },
}
CLASSIFICACOES = ["Essencial", "Supérfluo", "Fixo", "Variável", "Reserva"]
DESCRICOES = ["Pagamento", "Compra", "Transferência", "Depósito", "Cobrança", "Lançamento"]

# share of rows with one required field left blank
BLANK_SHARE = 0.015
# rows of the backfill's warm-up file
WARMUP_ROWS = 2000

CATEGORY_PATHS = [
    (t, g, c) for t, grupos in VOCAB.items() for g, cats in grupos.items() for c in cats
]


def brl(cents):
    """Integer cents -> pt-BR money text, e.g. 123456 -> '1.234,56'."""
    reais, cent = divmod(cents, 100)
    return f"{reais:,}".replace(",", ".") + f",{cent:02d}"


def month_label(ano, mes):
    return f"{mes:02d}/{ano}"


def month_rows(rng, ano, mes, n, serial):
    """`n` rows for one month. `serial` makes every description unique."""
    rows = []
    for i in range(n):
        tipo, grupo, cat = rng.choice(CATEGORY_PATHS)
        row = [
            f"{rng.choice(DESCRICOES)} nº {serial}-{i}",
            tipo,
            grupo,
            cat,
            rng.choice(CLASSIFICACOES),
            month_label(ano, mes),
            brl(rng.randint(1, 2_500_000)),
        ]
        if rng.random() < BLANK_SHARE:
            row[rng.randrange(len(HEADER))] = rng.choice(["", "  "])
        rows.append(row)
    return rows


def to_csv(rows):
    """Rows -> CSV bytes; fields with a comma (amounts) are quoted."""
    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n", quoting=csv.QUOTE_MINIMAL)
    w.writerow(HEADER)
    w.writerows(rows)
    return out.getvalue().encode("utf-8")


def is_rejected(row):
    return any(not f.strip() for f in row)


def cents_of(valor):
    reais, cent = valor.split(",")
    return int(reais.replace(".", "")) * 100 + int(cent)


class Truth:
    """Cumulative warehouse state implied by the accepted rows so far."""

    def __init__(self):
        self.hashes = set()
        self.month_cents = defaultdict(int)  # (ano, mes) -> cents
        self.tipo_month_cents = defaultdict(int)  # (tipo, ano, mes) -> cents
        self.path_cents = defaultdict(int)  # (tipo, grupo, cat) -> cents
        self.path_rows = defaultdict(int)
        self.class_month_cents = defaultdict(int)  # (classif, ano, mes) -> cents
        self.tipos, self.grupos, self.cats, self.classes, self.months = (
            set(), set(), set(), set(), set())

    def add(self, rows):
        """Fold one upload in; returns (staged, rejected, appended)."""
        staged = rejected = appended = 0
        for row in rows:
            if is_rejected(row):
                rejected += 1
                continue
            staged += 1
            desc, tipo, grupo, cat, cls, data, valor = row
            key = tuple(row)
            if key in self.hashes:
                continue
            self.hashes.add(key)
            appended += 1
            mes, ano = (int(x) for x in data.split("/"))
            cents = cents_of(valor)
            self.month_cents[(ano, mes)] += cents
            self.tipo_month_cents[(tipo, ano, mes)] += cents
            self.path_cents[(tipo, grupo, cat)] += cents
            self.path_rows[(tipo, grupo, cat)] += 1
            self.class_month_cents[(cls, ano, mes)] += cents
            self.tipos.add(tipo)
            self.grupos.add((tipo, grupo))
            self.cats.add((tipo, grupo, cat))
            self.classes.add(cls)
            self.months.add((ano, mes))
        return staged, rejected, appended

    def snapshot(self):
        """The facts the checks compare against, in JSON-able form."""
        return {
            "fact_rows": len(self.hashes),
            "month_cents": {f"{a}-{m}": c for (a, m), c in sorted(self.month_cents.items())},
            "dims": {
                "dim_tipo": len(self.tipos),
                "dim_grupo": len(self.grupos),
                "dim_categoria": len(self.cats),
                "dim_classificacao": len(self.classes),
                "dim_tempo": len(self.months),
            },
        }

    def dashboard(self):
        """monthlyByTipo as {"tipo|ano|mes": cents}."""
        return {f"{t}|{a}|{m}": c for (t, a, m), c in self.tipo_month_cents.items()}

    def drilldown(self):
        """categoryDrilldown leaf rows as {"tipo|grupo|cat": [cents, rows]}."""
        return {"|".join(k): [c, self.path_rows[k]] for k, c in self.path_cents.items()}

    def class_share(self, ano, mes):
        """classificationShare totals as {classificacao: cents}."""
        return {cls: c for (cls, a, m), c in self.class_month_cents.items()
                if (a, m) == (ano, mes)}


def _upload(truth, rows, kind, name):
    staged, rejected, appended = truth.add(rows)
    return {"op": [kind, name], "staged": staged, "rejected": rejected, "appended": appended}


def dashboard(truth):
    """One dashboard refresh: monthlyByTipo, the canonical Metabase slice."""
    return {"op": ["bi", "monthly"], "dashboard": truth.dashboard()}


def bi_burst(truth, months):
    """The BI burst after a backfill: the three BiQueries (monthly totals
    by tipo, the category drill-down, the classification share), the
    share once for each of `months`."""
    return ([dashboard(truth),
             {"op": ["bi", "drilldown"], "drilldown": truth.drilldown(),
              "fact_rows": len(truth.hashes)}]
            + [{"op": ["bi", "share", str(a), str(m)], "share": truth.class_share(a, m)}
               for a, m in months])


def monthly_plan(seed, passes, rows_per_month):
    """The monthly workload over one long-lived catalog. The warm-up
    (pass -1) uploads the first month; each pass then uploads a new month,
    re-uploads an earlier month verbatim and uploads two more new months,
    with a dashboard refresh after every upload.

    Returns (files, plan): files maps name -> CSV bytes; plan maps pass
    -> (entries, state), where each entry is one operation with what its
    result must be, and state is the warehouse after the pass."""
    rng = random.Random(seed)
    ano, mes = rng.randint(2015, 2021), rng.randint(1, 12)
    files, rows_of, truth, plan = {}, {}, Truth(), {}

    def new_month():
        nonlocal ano, mes
        n = rows_per_month + rng.randint(-rows_per_month // 10, rows_per_month // 10)
        name = f"m{ano:04d}-{mes:02d}.csv"
        rows_of[name] = month_rows(rng, ano, mes, n, serial=f"{ano}{mes:02d}")
        files[name] = to_csv(rows_of[name])
        ano, mes = (ano + 1, 1) if mes == 12 else (ano, mes + 1)
        return name

    def upload(name, kind="upload"):
        """The upload, then the dashboard refresh."""
        return [_upload(truth, rows_of[name], kind, name), dashboard(truth)]

    plan[-1] = (upload(new_month()), truth.snapshot())
    for p in range(passes):
        entries = upload(new_month())
        entries += upload(rng.choice(sorted(rows_of)), "reupload")
        entries += upload(new_month())
        entries += upload(new_month())
        plan[p] = (entries, truth.snapshot())
    return files, plan


def history(rng, rows, months):
    """`rows` rows spread over `months` consecutive months from a seeded
    start, shuffled as a history export is; returns (rows, months)."""
    ano, mes = rng.randint(2010, 2016), rng.randint(1, 12)
    all_rows, month_list = [], []
    per = rows // months
    for i in range(months):
        n = per + (rows - per * months if i == months - 1 else 0)
        all_rows.extend(month_rows(rng, ano, mes, n, serial=f"{ano}{mes:02d}"))
        month_list.append((ano, mes))
        ano, mes = (ano + 1, 1) if mes == 12 else (ano, mes + 1)
    rng.shuffle(all_rows)
    return all_rows, month_list


def backfill_plan(seed, rows, months, share_months, passes):
    """The backfill workload: one CSV of `rows` rows spread over `months`
    consecutive months, loaded into an empty catalog and rerun
    identically, then a BI burst with the classification share for
    `share_months` seed-picked months. Every pass repeats this on a fresh
    catalog; the warm-up loads one fixed month into a throwaway catalog
    and runs the burst for it. Returns (files, plan) as `monthly_plan`
    does."""
    rng = random.Random(seed)
    all_rows, month_list = history(rng, rows, months)
    picked = rng.sample(month_list, share_months)
    truth = Truth()
    entries = [_upload(truth, all_rows, "upload", "backfill.csv"),
               _upload(truth, all_rows, "reupload", "backfill.csv")]
    entries += bi_burst(truth, picked)
    warm_rows = month_rows(random.Random("warmup"), 2000, 1, WARMUP_ROWS, "w")
    warm = Truth()
    plan = {-1: ([_upload(warm, warm_rows, "upload", "warmup.csv")]
                 + bi_burst(warm, [(2000, 1)]), warm.snapshot())}
    for p in range(passes):
        plan[p] = (entries, truth.snapshot())
    return {"backfill.csv": to_csv(all_rows), "warmup.csv": to_csv(warm_rows)}, plan
