"""Seeded SSMS-style DDL generator for the pipeline workloads.

Writes a UTF-16 (BOM, CRLF) T-SQL script in the shape SQL Server Management
Studio emits: a CREATE DATABASE / USE preamble, SET ... / GO batches,
CREATE TABLE batches with a clustered PRIMARY KEY constraint, nonclustered
indexes, default constraints and ALTER TABLE ... FOREIGN KEY batches.

The catalog follows the per-table profile of the paper's 85-table ERP
script (1,431 columns, 131 FKs, 19 ON DELETE CASCADE, 4 identity columns)
at about half its size, so that a traced run of two cold pipelines fits
the benchmark's time limit: 45 tables (all 8 names the pipeline skips
among them), 708 columns, 66 FKs (10 ON DELETE CASCADE, 2 self-FKs),
4 identity columns, an FK DAG of 8 waves, a PK mix of GUIDs, identities
and short nvarchar codes, and five wide tables (76 columns, the width of
the reference's widest, down to 38). Column names are paired with types
the way that script pairs them (``BelgeTarih date``, ``Tutar numeric(25,6)``, ``Aciklama
nvarchar(max)``, ``RowVersion timestamp``, ``TenantId uniqueidentifier``).
uniqueidentifier columns are only ever PK ``Id``, ``TenantId``, the
audit user columns or FK columns, as in that script.

The catalog's shape (which slot is in which wave, its PK kind, its FK
edges, its width and its column types) is drawn from a fixed layout seed,
so every seed asks the program for the same amount of work. The seed
picks the table names, and with them the FK column names and every
generated value (the program hashes the table name into each value). The
same seed gives the same bytes.
"""

import random

# ERP entity names of the target tables (the seed picks 37 of them).
ENTITY_NAMES = [
    "Ulke", "Il", "Ilce", "VergiDairesi", "Doviz", "DovizKur", "Banka",
    "BankaSube", "BankaHesap", "Birim", "BirimDonusum", "Depo", "DepoRaf",
    "StokGrup", "StokKarti", "StokBarkod", "StokFiyat", "StokHareket",
    "StokSayim", "StokSayimSatir", "CariGrup", "CariHesap", "CariAdres",
    "CariYetkili", "CariHareket", "CariBelge", "CariBakiye", "FaturaBelge",
    "FaturaSatir", "FaturaVergi", "IrsaliyeBelge", "IrsaliyeSatir",
    "SiparisBelge", "SiparisSatir", "TeklifBelge", "TeklifSatir",
    "SatisBelge", "SatisSatir", "AlisBelge", "AlisSatir", "IadeBelge",
    "IadeSatir", "CekKarti", "CekHareket", "SenetKarti", "SenetHareket",
    "KasaKarti", "KasaHareket", "Personel", "PersonelIzin", "PersonelMaas",
    "Departman", "Gorev", "Proje", "ProjeGorev", "Sozlesme", "SozlesmeSatir",
    "Kampanya", "KampanyaSatir", "FiyatListesi", "FiyatListesiSatir",
    "OdemePlani", "OdemePlaniSatir", "Taksit", "MuhasebeHesap", "Fis",
    "FisSatir", "MasrafMerkezi", "Butce", "ButceSatir", "Arac", "AracBakim",
    "Sevkiyat", "SevkiyatSatir", "Servis", "ServisSatir", "Uretim",
    "UretimRecete", "ReceteSatir", "KaliteKontrol", "Dokuman", "Gorusme",
    "Etkinlik", "Bildirim", "Ayar", "Sube", "Kullanici", "Rol", "Yetki",
    "Sablon",
]

# Non-key columns as the reference pairs name and type:
# (name, sql type, length/precision token or None, nullable)
COLUMN_POOL = [
    ("Kod", "nvarchar", "20", False), ("Ad", "nvarchar", "100", False),
    ("Aciklama", "nvarchar", "max", True), ("KisaAciklama", "nvarchar", "250", True),
    ("Not", "nvarchar", "max", True), ("BelgeNo", "nvarchar", "20", False),
    ("BelgeTarih", "date", None, False), ("BelgeTip", "int", None, False),
    ("VadeTarih", "date", None, True), ("Tutar", "numeric", "25, 6", True),
    ("DovizTutar", "numeric", "25, 6", True), ("DovizKuru", "numeric", "25, 6", True),
    ("KdvOran", "real", None, True), ("KdvTutar", "numeric", "25, 6", True),
    ("IskontoOran", "numeric", "5, 2", True), ("IskontoTutar", "money", None, True),
    ("Miktar", "numeric", "25, 6", True), ("BirimFiyat", "numeric", "25, 6", True),
    ("NetFiyat", "money", None, True), ("Bakiye", "money", None, True),
    ("KrediLimit", "numeric", "18, 2", True), ("Oran", "float", None, True),
    ("Telefon", "nvarchar", "20", True), ("IsTelefon", "nvarchar", "20", True),
    ("Gsm", "nvarchar", "20", True), ("Faks", "nvarchar", "20", True),
    ("Email", "nvarchar", "100", True), ("WebAdres", "nvarchar", "200", True),
    ("Adres", "nvarchar", "500", True), ("PostaKodu", "nvarchar", "10", True),
    ("Sehir", "nvarchar", "50", True), ("VergiNo", "nvarchar", "11", True),
    ("Tckn", "nvarchar", "11", True), ("Iban", "nvarchar", "34", True),
    ("Barkod", "nvarchar", "50", True), ("StokAdi", "nvarchar", "200", True),
    ("Unvan", "nvarchar", "250", True), ("SirketAdi", "nvarchar", "250", True),
    ("Soyad", "nvarchar", "100", True), ("Aktif", "bit", None, False),
    ("Silindi", "bit", None, False), ("Durum", "tinyint", None, False),
    ("Sira", "int", None, True), ("Versiyon", "bigint", None, True),
    ("VadeGun", "smallint", None, True), ("BaslangicSaat", "time", "7", True),
    ("BitisSaat", "time", "7", True), ("FormBaBsTarih", "datetime2", "7", True),
    ("KayitZamani", "datetime", None, True), ("Tarih", "smalldatetime", None, True),
    ("OnayTarih", "datetime2", "7", True), ("DvzTL", "smallint", None, False),
    ("Renk", "nvarchar", "7", True), ("Ozellik", "nvarchar", "max", True),
    ("Resim", "varbinary", "max", True), ("Dosya", "varbinary", "max", True),
    ("Puan", "decimal", "5, 2", True), ("Agirlik", "decimal", "18, 3", True),
    ("Hacim", "decimal", "18, 3", True), ("Adet", "int", None, True),
    ("KisaAd", "nchar", "10", True), ("Referans", "varchar", "50", True),
    ("Etiket", "nvarchar", "max", True), ("Konu", "nvarchar", "200", True),
    ("Icerik", "ntext", None, True), ("Metin", "text", None, True),
]

AUDIT_COLUMNS = [
    ("CreateDate", "datetime2", "7", False), ("CreatedBy", "uniqueidentifier", None, True),
    ("UpdateDate", "datetime2", "7", True), ("UpdatedBy", "uniqueidentifier", None, True),
]

# Tables of an 8-wave DAG: how many target tables land in each FK wave.
WAVE_SIZES = [7, 7, 6, 5, 4, 4, 2, 2]   # 37 target tables, 45 in all
N_COLUMNS = 708
N_FKS = 66
N_CASCADE = 10
N_IDENTITY = 4
N_CODE_PK = 4
LAYOUT_SEED = 20260101
WIDTHS_WIDE = [76, 61, 52, 44, 38]            # the widest tables
SLICE_TABLES = 10
DB_NAME = "GraftErp"


def _skip_tables():
    """The skip-listed ASP.NET / EF / diagram tables and their own FKs."""
    tables, fks = [], []
    tables.append(dict(name="__EFMigrationsHistory", pk=("MigrationId", "nvarchar", "150"),
                       cols=[("ProductVersion", "nvarchar", "32", False)]))
    tables.append(dict(name="sysdiagrams", pk=("diagram_id", "int", None, "identity"),
                       cols=[("name", "nvarchar", "128", False), ("principal_id", "int", None, False),
                             ("version", "int", None, True), ("definition", "varbinary", "max", True)]))
    tables.append(dict(name="AspNetRoles", pk=("Id", "nvarchar", "450"),
                       cols=[("Name", "nvarchar", "256", True), ("NormalizedName", "nvarchar", "256", True),
                             ("ConcurrencyStamp", "nvarchar", "max", True)]))
    tables.append(dict(name="AspNetUsers", pk=("Id", "nvarchar", "450"),
                       cols=[("UserName", "nvarchar", "256", True), ("NormalizedUserName", "nvarchar", "256", True),
                             ("Email", "nvarchar", "256", True), ("NormalizedEmail", "nvarchar", "256", True),
                             ("EmailConfirmed", "bit", None, False), ("PasswordHash", "nvarchar", "max", True),
                             ("SecurityStamp", "nvarchar", "max", True), ("ConcurrencyStamp", "nvarchar", "max", True),
                             ("PhoneNumber", "nvarchar", "max", True), ("PhoneNumberConfirmed", "bit", None, False),
                             ("TwoFactorEnabled", "bit", None, False), ("LockoutEnd", "datetimeoffset", "7", True),
                             ("LockoutEnabled", "bit", None, False), ("AccessFailedCount", "int", None, False)]))
    tables.append(dict(name="AspNetUserRoles", pk=("UserId", "nvarchar", "450"),
                       cols=[("RoleId", "nvarchar", "450", False)]))
    tables.append(dict(name="AspNetUserClaims", pk=("Id", "int", None),
                       cols=[("UserId", "nvarchar", "450", False), ("ClaimType", "nvarchar", "max", True),
                             ("ClaimValue", "nvarchar", "max", True)]))
    tables.append(dict(name="AspNetUserLogins", pk=("LoginProvider", "nvarchar", "128"),
                       cols=[("ProviderKey", "nvarchar", "128", False),
                             ("ProviderDisplayName", "nvarchar", "max", True), ("UserId", "nvarchar", "450", False)]))
    tables.append(dict(name="AspNetRoleClaims", pk=("Id", "int", None),
                       cols=[("RoleId", "nvarchar", "450", False), ("ClaimType", "nvarchar", "max", True),
                             ("ClaimValue", "nvarchar", "max", True)]))
    for child, col, parent in [("AspNetUserRoles", "UserId", "AspNetUsers"),
                               ("AspNetUserRoles", "RoleId", "AspNetRoles"),
                               ("AspNetUserClaims", "UserId", "AspNetUsers"),
                               ("AspNetUserLogins", "UserId", "AspNetUsers"),
                               ("AspNetRoleClaims", "RoleId", "AspNetRoles")]:
        fks.append(dict(table=child, column=col, ref=parent, refcol="Id", cascade=True))
    for t in tables:
        t["skip"] = True
    return tables, fks


def generate(seed):
    """Return the catalog model: {"tables": [...], "fks": [...]} in script order."""
    names = random.Random(seed).sample(ENTITY_NAMES, sum(WAVE_SIZES))
    # every draw below depends on slot positions only, never on a name
    rng = random.Random(LAYOUT_SEED)
    skip_tables, fks = _skip_tables()

    # PK kinds: N_IDENTITY identity columns overall, sysdiagrams' included
    n_ident_skip = sum(1 for t in skip_tables if len(t["pk"]) == 4)
    n_ident = N_IDENTITY - n_ident_skip
    kinds = ["identity"] * n_ident + ["code"] * N_CODE_PK
    kinds += ["guid"] * (len(names) - len(kinds))
    # code and identity PKs sit in the upper waves (dimension roots), like
    # Ulke/Il/Banka in the reference
    waves, i = [], 0
    for size in WAVE_SIZES:
        waves.append(names[i:i + size])
        i += size
    upper = [n for w in waves[:3] for n in w]
    special = rng.sample(upper, n_ident + N_CODE_PK)
    kind_of = {n: "guid" for n in names}
    for n, k in zip(special, kinds):
        kind_of[n] = k

    wave_of = {n: w for w, ns in enumerate(waves) for n in ns}
    targets = []
    for n in names:
        k = kind_of[n]
        if k == "identity":
            pk = ("Id", "int", None, "identity")
        elif k == "code":
            pk = rng.choice([("Kod", "nvarchar", "3"), ("NumKod", "nvarchar", "3"),
                             ("Kod", "nvarchar", "6"), ("Kod", "nvarchar", "10")])
        else:
            pk = ("Id", "uniqueidentifier", None)
        targets.append(dict(name=n, pk=pk, cols=[], skip=False))
    by_name = {t["name"]: t for t in targets}

    # FK edges: each table below wave 0 gets one parent in the wave right
    # above it (so its wave is exact), then extra edges to random earlier
    # waves until the total matches the profile.
    tfks = []

    def add_fk(child, parent, role=""):
        p = by_name[parent]
        pk_name, pk_type, pk_len = p["pk"][0], p["pk"][1], p["pk"][2]
        col = role + parent + pk_name
        existing = {c[0] for c in by_name[child]["cols"]}
        n = 2
        base = col
        while col in existing or col == by_name[child]["pk"][0]:
            col = f"{base}{n}"
            n += 1
        by_name[child]["cols"].append((col, pk_type, pk_len, rng.random() < 0.4))
        tfks.append(dict(table=child, column=col, ref=parent, refcol=pk_name, cascade=False))

    for w in range(1, len(waves)):
        for child in waves[w]:
            add_fk(child, rng.choice(waves[w - 1]))
    n_self = 2
    n_extra = N_FKS - len(fks) - len(tfks) - n_self
    children = [n for w in waves[1:] for n in w]
    while n_extra > 0:
        child = rng.choice(children)
        parent = rng.choice([n for w in waves[:wave_of[child]] for n in w])
        role = rng.choice(["", "", "Kaynak", "Hedef", "Ana", "Ilgili"])
        add_fk(child, parent, role)
        n_extra -= 1
    # self-FKs (parent row of a hierarchy), nullable, GUID tables only
    guid_tables = [n for n in names if kind_of[n] == "guid"]
    for child in rng.sample(guid_tables, n_self):
        by_name[child]["cols"].append(("UstId", "uniqueidentifier", None, True))
        tfks.append(dict(table=child, column="UstId", ref=child, refcol="Id", cascade=False))
    n_casc_skip = sum(1 for f in fks if f["cascade"])
    for f in rng.sample([f for f in tfks if f["table"] != f["ref"]], N_CASCADE - n_casc_skip):
        f["cascade"] = True
    fks.extend(tfks)

    # Non-key columns: TenantId + audit columns + a name/type draw from the
    # pool, widths spread so the total is N_COLUMNS and the widest tables
    # are WIDTHS_WIDE.
    for t in targets:
        t["cols"].append(("TenantId", "uniqueidentifier", None, False))
    skip_cols = sum(1 + len(t["cols"]) for t in skip_tables)
    wide = rng.sample(names, len(WIDTHS_WIDE))
    width = {n: 1 + len(by_name[n]["cols"]) for n in names}
    for n, w in zip(wide, WIDTHS_WIDE):
        width[n] = max(width[n], w)
    budget = N_COLUMNS - skip_cols - sum(width.values())
    rest = [n for n in names if n not in wide]
    while budget > 0:
        n = rng.choice(rest)
        if width[n] < 30:
            width[n] += 1
            budget -= 1
    for t in targets:
        have = {c[0] for c in t["cols"]} | {t["pk"][0]}
        need = width[t["name"]] - 1 - len(t["cols"])
        extra = []
        if need >= 8 and rng.random() < 0.7:
            extra += [c for c in AUDIT_COLUMNS if c[0] not in have]
        if need >= 6 and rng.random() < 0.5:
            extra.append(("RowVersion", "timestamp", None, False))
        pool = [c for c in COLUMN_POOL if c[0] not in have]
        rng.shuffle(pool)
        extra += pool
        k = 2
        while len(extra) < need:   # wide tables reuse names with a suffix
            extra += [(c[0] + str(k),) + c[1:] for c in COLUMN_POOL]
            k += 1
        t["cols"].extend(extra[:need])
        rng.shuffle(t["cols"])
        assert len({c[0] for c in t["cols"]} | {t["pk"][0]}) == 1 + len(t["cols"]), t["name"]
    return dict(tables=skip_tables + targets, fks=fks, waves=waves)


def counts(model):
    return dict(tables=len(model["tables"]),
                columns=sum(1 + len(t["cols"]) for t in model["tables"]),
                fks=len(model["fks"]))


def _col_sql(name, typ, ln, nullable, identity=False):
    s = f"\t[{name}] [{typ}]"
    if ln is not None:
        s += f"({ln})"
    if identity:
        s += " IDENTITY(1,1)"
    return s + (" NULL" if nullable else " NOT NULL")


_WITH = ("WITH (PAD_INDEX = OFF, STATISTICS_NORECOMPUTE = OFF, IGNORE_DUP_KEY = OFF, "
         "ALLOW_ROW_LOCKS = ON, ALLOW_PAGE_LOCKS = ON, OPTIMIZE_FOR_SEQUENTIAL_KEY = OFF) ON [PRIMARY]")


def render(model):
    """The SSMS script text (str) for a catalog model."""
    db = DB_NAME
    out = [
        "USE [master]", "GO",
        f"/****** Object:  Database [{db}]    Script Date: 1.01.2026 00:00:00 ******/",
        f"CREATE DATABASE [{db}]", " CONTAINMENT = NONE", " ON  PRIMARY ",
        f"( NAME = N'{db}', FILENAME = N'C:\\Data\\{db}.mdf' , SIZE = 8192KB , FILEGROWTH = 65536KB )",
        "GO", f"ALTER DATABASE [{db}] SET COMPATIBILITY_LEVEL = 150", "GO",
        f"USE [{db}]", "GO",
    ]
    defaults = []
    for t in model["tables"]:
        name, pk = t["name"], t["pk"]
        has_lob = any(c[2] == "max" or c[1] in ("ntext", "text") for c in t["cols"])
        out += [f"/****** Object:  Table [dbo].[{name}]    Script Date: 1.01.2026 00:00:00 ******/",
                "SET ANSI_NULLS ON", "GO", "SET QUOTED_IDENTIFIER ON", "GO",
                f"CREATE TABLE [dbo].[{name}]("]
        lines = [_col_sql(pk[0], pk[1], pk[2], False, identity=len(pk) == 4)]
        lines += [_col_sql(*c) for c in t["cols"]]
        out += [l + "," for l in lines]
        out += [f" CONSTRAINT [PK_{name}] PRIMARY KEY CLUSTERED ", "(", f"\t[{pk[0]}] ASC",
                ")" + _WITH,
                ") ON [PRIMARY]" + (" TEXTIMAGE_ON [PRIMARY]" if has_lob else ""), "GO"]
        for c in t["cols"]:
            if c[1] == "bit" and not c[3]:
                defaults.append((name, c[0], "((0))"))
    for t in model["tables"]:
        for c in t["cols"]:
            if c[0] in ("Kod", "BelgeNo"):
                out += [f"/****** Object:  Index [IX_{t['name']}_{c[0]}] ******/",
                        f"CREATE NONCLUSTERED INDEX [IX_{t['name']}_{c[0]}] ON [dbo].[{t['name']}]",
                        "(", f"\t[{c[0]}] ASC", ")" + _WITH, "GO"]
    for name, col, val in defaults:
        out += [f"ALTER TABLE [dbo].[{name}] ADD  DEFAULT ({val}) FOR [{col}]", "GO"]
    for f in model["fks"]:
        cname = f"FK_{f['table']}_{f['ref']}_{f['column']}"
        out += [f"ALTER TABLE [dbo].[{f['table']}]  WITH CHECK ADD  CONSTRAINT [{cname}] "
                f"FOREIGN KEY([{f['column']}])",
                f"REFERENCES [dbo].[{f['ref']}] ([{f['refcol']}])"
                + ("\r\nON DELETE CASCADE" if f["cascade"] else ""),
                "GO", f"ALTER TABLE [dbo].[{f['table']}] CHECK CONSTRAINT [{cname}]", "GO"]
    out += ["/* Açıklama: şema ERP örneği — ğüşıöç */", "USE [master]", "GO",
            f"ALTER DATABASE [{db}] SET  READ_WRITE ", "GO", ""]
    return "\r\n".join(out)


def slice_model(model):
    """An FK-closed slice of SLICE_TABLES target tables that takes the
    widest tables first, each with all its FK ancestors."""
    targets = [t for t in model["tables"] if not t["skip"]]
    parents = {}
    for f in model["fks"]:
        if f["table"] != f["ref"]:
            parents.setdefault(f["table"], set()).add(f["ref"])

    def closure(n):
        seen, todo = set(), [n]
        while todo:
            x = todo.pop()
            if x not in seen:
                seen.add(x)
                todo.extend(parents.get(x, ()))
        return seen

    keep = set()
    for _, t in sorted(enumerate(targets), key=lambda it: (-len(it[1]["cols"]), it[0])):
        c = closure(t["name"])
        if len(keep | c) <= SLICE_TABLES:
            keep |= c
        if len(keep) == SLICE_TABLES:
            break
    order = [t["name"] for t in targets]
    tables = [t for t in targets if t["name"] in keep]
    fks = [f for f in model["fks"] if f["table"] in keep and f["ref"] in keep]
    assert len(tables) == SLICE_TABLES, (len(tables), sorted(keep))
    # each table keeps its catalog wave: every non-self edge still runs
    # from an earlier wave to a later one, which is all the checks use
    waves = [[n for n in w if n in keep] for w in model["waves"]]
    return dict(tables=sorted(tables, key=lambda t: order.index(t["name"])), fks=fks,
                waves=[w for w in waves if w])


def write(path, model):
    """Write the script as UTF-16 with a BOM, as SSMS saves it."""
    with open(path, "wb") as fh:
        fh.write(render(model).encode("utf-16"))
