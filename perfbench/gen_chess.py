"""Seeded generator of Chess.com-shaped bronze months and an openings book.

Writes `<out>/bronze/{yyyy}-{MM}-games.json` (one JSON array per month, the
shape of the Chess.com monthly-archive API) and `<out>/openings.csv`
(`eco_family,eco,name,pgn`, numbered movetext). Every game carries a PGN
header block and `{[%clk ...]}` move comments; time controls cover the
live forms (`60`, `180+2`, `600+5`, ...) and the daily `1/86400` form;
results use every code of the 15-row results seed; `accuracies` is present
in ~7% of games; ply counts are long-tailed. The book is derived from the
generated move prefixes, so opening matching finds real hits. ECO is a
function of the ECOUrl, as in Chess.com data.

The same arguments always give byte-identical files.

    python3 perfbench/gen_chess.py --seed 7 --months 12 --games 500 \
        --user Rhythmbear1 --out <dir>
"""
import argparse
import calendar
import hashlib
import json
import os
import random

# (time_control, time_class); the class is a function of the control
TIME_CONTROLS = [("60", "bullet"), ("60+1", "bullet"), ("120+1", "bullet"),
                 ("180", "blitz"), ("180+2", "blitz"), ("300", "blitz"),
                 ("300+5", "blitz"), ("600", "rapid"), ("600+5", "rapid"),
                 ("900+10", "rapid"), ("1800", "rapid"),
                 ("1/86400", "daily"), ("1/259200", "daily")]
TC_WEIGHTS = [4, 3, 3, 8, 5, 10, 6, 20, 8, 5, 3, 2, 1]

# every result code of the dim_results seed, by the outcome it encodes
WIN_CODES = ["win"]
LOSS_CODES = ["checkmated", "resigned", "timeout", "lose", "abandoned",
              "kingofthehill", "threecheck", "bughousepartnerlose"]
LOSS_WEIGHTS = [30, 40, 20, 2, 4, 1, 1, 1]
DRAW_CODES = ["agreed", "repetition", "stalemate", "insufficient", "50move",
              "timevsinsufficient"]
DRAW_WEIGHTS = [30, 25, 10, 15, 5, 5]
ALL_CODES = WIN_CODES + LOSS_CODES + DRAW_CODES

# opening tree: (family, variation, plies); a game opens with one line
OPENINGS = [
    ("Kings Pawn Opening", "", ["e4", "e5"]),
    ("Kings Knight Opening", "Normal Variation", ["e4", "e5", "Nf3", "Nc6"]),
    ("Ruy Lopez Opening", "Morphy Defense", ["e4", "e5", "Nf3", "Nc6", "Bb5", "a6"]),
    ("Ruy Lopez Opening", "Berlin Defense", ["e4", "e5", "Nf3", "Nc6", "Bb5", "Nf6"]),
    ("Italian Game", "Two Knights Defense", ["e4", "e5", "Nf3", "Nc6", "Bc4", "Nf6"]),
    ("Italian Game", "Giuoco Piano", ["e4", "e5", "Nf3", "Nc6", "Bc4", "Bc5", "c3"]),
    ("Scotch Game", "", ["e4", "e5", "Nf3", "Nc6", "d4", "exd4"]),
    ("Petrovs Defense", "", ["e4", "e5", "Nf3", "Nf6"]),
    ("Philidor Defense", "", ["e4", "e5", "Nf3", "d6"]),
    ("Vienna Game", "", ["e4", "e5", "Nc3"]),
    ("Kings Gambit", "Accepted", ["e4", "e5", "f4", "exf4"]),
    ("Sicilian Defense", "", ["e4", "c5"]),
    ("Sicilian Defense", "Open", ["e4", "c5", "Nf3", "d6", "d4", "cxd4", "Nxd4"]),
    ("Sicilian Defense", "Alapin Variation", ["e4", "c5", "c3"]),
    ("Sicilian Defense", "Closed", ["e4", "c5", "Nc3", "Nc6"]),
    ("French Defense", "", ["e4", "e6"]),
    ("French Defense", "Advance Variation", ["e4", "e6", "d4", "d5", "e5"]),
    ("Caro Kann Defense", "", ["e4", "c6"]),
    ("Caro Kann Defense", "Advance Variation", ["e4", "c6", "d4", "d5", "e5"]),
    ("Scandinavian Defense", "", ["e4", "d5", "exd5", "Qxd5"]),
    ("Pirc Defense", "", ["e4", "d6", "d4", "Nf6", "Nc3", "g6"]),
    ("Alekhines Defense", "", ["e4", "Nf6"]),
    ("Owens Defense", "", ["e4", "b6"]),
    ("Queens Pawn Opening", "", ["d4", "d5"]),
    ("Queens Gambit Declined", "", ["d4", "d5", "c4", "e6"]),
    ("Queens Gambit Accepted", "", ["d4", "d5", "c4", "dxc4"]),
    ("Slav Defense", "", ["d4", "d5", "c4", "c6"]),
    ("London System", "", ["d4", "d5", "Bf4"]),
    ("Kings Indian Defense", "", ["d4", "Nf6", "c4", "g6", "Nc3", "Bg7"]),
    ("Nimzo Indian Defense", "", ["d4", "Nf6", "c4", "e6", "Nc3", "Bb4"]),
    ("Dutch Defense", "", ["d4", "f5"]),
    ("English Opening", "", ["c4"]),
    ("English Opening", "Reversed Sicilian", ["c4", "e5"]),
    ("Reti Opening", "", ["Nf3", "d5"]),
    ("Bird Opening", "", ["f4"]),
    ("Englund Gambit", "", ["d4", "e5"]),
    ("Van t Kruijs Opening", "", ["e3"]),
    ("Mieses Opening", "", ["d3"]),
]
OPENING_WEIGHTS = [6, 5, 4, 3, 5, 4, 3, 2, 3, 3, 2, 4, 4, 2, 2, 4, 2, 3, 2, 4,
                   2, 1, 1, 5, 3, 2, 2, 4, 2, 1, 1, 3, 2, 2, 1, 1, 1, 1]

PIECES = ["N", "B", "R", "Q", "K"]
FILES = "abcdefgh"
OPPONENTS = [f"opponent{i:03d}" for i in range(300)]


def slug(*parts):
    return "-".join(w for p in parts for w in p.replace(":", "").split())


def eco_of(url):
    """ECO code as a function of the ECOUrl (A00-E99)."""
    h = int(hashlib.md5(url.encode()).hexdigest(), 16)
    return "ABCDE"[h % 5] + f"{(h // 5) % 100:02d}"


def opening_url(opening, extra_plies):
    """ECOUrl of a game: the line's slug, deepened by the first plies
    after it (Chess.com URLs name the deepest recognised move order)."""
    family, variation, plies = opening
    name = slug(family, variation)
    if extra_plies:
        n = len(plies) // 2 + 1
        name += "-" + f"{n}." + "-".join(extra_plies)
    return "https://www.chess.com/openings/" + name


def random_move(rng):
    r = rng.random()
    if r < 0.35:
        m = rng.choice(FILES) + str(rng.randint(2, 7))
    elif r < 0.85:
        m = rng.choice(PIECES) + rng.choice(FILES) + str(rng.randint(1, 8))
    elif r < 0.93:
        m = rng.choice(PIECES) + "x" + rng.choice(FILES) + str(rng.randint(1, 8))
    else:
        m = rng.choice(["O-O", "O-O-O", "exd5", "cxd4", "Qxe7"])
    return m + ("+" if rng.random() < 0.06 else "")


def ply_count(rng, opening_len):
    """Long-tailed ply count: lognormal, median ~64 plies, tail to 300."""
    n = int(rng.lognormvariate(4.15, 0.45))
    return max(opening_len, min(300, n))


def clock(seconds):
    seconds = max(0.0, seconds)
    h, rem = divmod(seconds, 3600)
    m, s = divmod(rem, 60)
    return f"{int(h)}:{int(m):02d}:{s:04.1f}"


def movetext(plies, base_secs, rng, result):
    out = []
    left = [float(base_secs), float(base_secs)]
    for i, ply in enumerate(plies):
        side = i % 2
        left[side] -= rng.uniform(0.1, max(0.2, base_secs / 40.0))
        c = "{[%clk " + clock(left[side]) + "]}"
        num = i // 2 + 1
        out.append(f"{num}. {ply} {c}" if side == 0 else f"{num}... {ply} {c}")
    return " ".join(out) + " " + result


def fen(rng):
    rows = []
    for _ in range(8):
        k = rng.randint(0, 8)
        rows.append(str(8 - k) + "p" * k if k < 8 else "pppppppp")
    return "/".join(rows) + " w - - 0 " + str(rng.randint(1, 150))


def game(rng, user, year, month, idx, game_id):
    tc, tclass = rng.choices(TIME_CONTROLS, TC_WEIGHTS)[0]
    daily = tclass == "daily"
    base = 86400 if daily else int(tc.split("+")[0])
    opening = rng.choices(OPENINGS, OPENING_WEIGHTS)[0]
    n = ply_count(rng, len(opening[2]))
    plies = list(opening[2]) + [random_move(rng) for _ in range(n - len(opening[2]))]
    extra = plies[len(opening[2]):len(opening[2]) + rng.choice([0, 0, 1, 2])]
    url = opening_url(opening, extra)
    outcome = rng.choices(["white", "black", "draw"], [47, 45, 8])[0]
    forced = ALL_CODES[idx] if idx < len(ALL_CODES) else None  # each code every month
    if forced in DRAW_CODES:
        outcome = "draw"
    elif forced is not None and outcome == "draw":
        outcome = "white"
    if outcome == "draw":
        code = forced or rng.choices(DRAW_CODES, DRAW_WEIGHTS)[0]
        wres, bres, res = code, code, "1/2-1/2"
    else:
        loss = forced if forced in LOSS_CODES else rng.choices(LOSS_CODES, LOSS_WEIGHTS)[0]
        wres, bres = ("win", loss) if outcome == "white" else (loss, "win")
        res = "1-0" if outcome == "white" else "0-1"
    me_white = rng.random() < 0.5
    opp = rng.choice(OPPONENTS)
    white, black = (user, opp) if me_white else (opp, user)
    wr, br = rng.randint(600, 2200), rng.randint(600, 2200)
    days = calendar.monthrange(year, month)[1]
    day = rng.randint(1, days)
    start = rng.randint(0, 86400 - 1)
    dur = rng.randint(60, 86400 * 3) if daily else rng.randint(20, 2 * base + 600)
    end = start + dur
    end_day, end_sec = day + end // 86400, end % 86400
    end_date = (year, month, end_day) if end_day <= days else \
        ((year + (month == 12), month % 12 + 1, end_day - days))
    hms = lambda s: f"{s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}"
    date = f"{year}.{month:02d}.{day:02d}"
    edate = f"{end_date[0]}.{end_date[1]:02d}.{end_date[2]:02d}"
    final = fen(rng)
    kind = "daily" if daily else "live"
    link = f"https://www.chess.com/game/{kind}/{game_id}"
    headers = [
        ("Event", "Let's Play!" if daily else "Live Chess"), ("Site", "Chess.com"),
        ("Date", date), ("Round", "-"), ("White", white), ("Black", black),
        ("Result", res), ("CurrentPosition", final), ("Timezone", "UTC"),
        ("ECO", eco_of(url)), ("ECOUrl", url), ("UTCDate", date),
        ("UTCTime", hms(start)), ("WhiteElo", str(wr)), ("BlackElo", str(br)),
        ("TimeControl", tc), ("Termination", f"{white if outcome == 'white' else black} won"),
        ("StartTime", hms(start)), ("EndDate", edate), ("EndTime", hms(end_sec)),
        ("Link", link)]
    pgn = "\n".join(f'[{k} "{v}"]' for k, v in headers) + "\n\n" + \
        movetext(plies, base, rng, res)
    epoch = calendar.timegm((end_date[0], end_date[1], end_date[2], 0, 0, 0)) + end_sec
    g = {
        "url": link, "pgn": pgn, "time_control": tc, "end_time": epoch,
        "rated": rng.random() < 0.9, "tcn": "".join(rng.choice("abcdefghijklmnop!?") for _ in range(n)),
        "uuid": f"{game_id:08x}-{idx:04x}-4000-8000-{rng.getrandbits(48):012x}",
        "initial_setup": "rnbqkbnr/pppppppp/8/8/8/8/PPPPPPPP/RNBQKBNR w KQkq - 0 1",
        "fen": final, "time_class": tclass, "rules": "chess",
        "white": {"rating": wr, "result": wres, "@id": f"https://api.chess.com/pub/player/{white.lower()}",
                  "username": white, "uuid": f"u-{white.lower()}"},
        "black": {"rating": br, "result": bres, "@id": f"https://api.chess.com/pub/player/{black.lower()}",
                  "username": black, "uuid": f"u-{black.lower()}"},
    }
    if rng.random() < 0.07:
        g["accuracies"] = {"white": round(rng.uniform(40, 99), 2),
                           "black": round(rng.uniform(40, 99), 2)}
    return g


def numbered(plies):
    out = []
    for i in range(0, len(plies), 2):
        out.append(f"{i // 2 + 1}.")
        out.extend(plies[i:i + 2])
    return " ".join(out)


def book_rows(lines):
    """Openings book from the played lines: each line and its prefixes of
    two or more plies get a colon-form "Family: Variation" name."""
    rows = {}
    for family, variation, plies in lines:
        for depth in range(1, len(plies) + 1):
            pgn = numbered(plies[:depth])
            full = depth == len(plies)
            if full:
                name = f"{family}: {variation}" if variation else family
            else:
                name = f"{family}: {' '.join(plies[:depth])} Line"
            url = "https://www.chess.com/openings/" + slug(name)
            rows.setdefault(pgn, (family, eco_of(url), name, pgn))
    return [rows[k] for k in sorted(rows)]


def csv_field(s):
    return '"' + s.replace('"', '""') + '"' if ("," in s or '"' in s) else s


def generate(seed, months, games, user, out, start=(2023, 1)):
    """Write the bronze months and the book; return the manifest."""
    rng = random.Random(seed)
    os.makedirs(os.path.join(out, "bronze"), exist_ok=True)
    digest = hashlib.sha256()
    size = 0
    names = []
    year, month = start
    game_id = 10_000_000 + seed * 1_000_000
    for _ in range(months):
        batch = []
        for i in range(games):
            game_id += rng.randint(1, 50)
            batch.append(game(rng, user, year, month, i, game_id))
        name = f"{year}-{month:02d}-games.json"
        data = json.dumps(batch).encode()
        with open(os.path.join(out, "bronze", name), "wb") as f:
            f.write(data)
        digest.update(name.encode() + b"\0" + data)
        size += len(data)
        names.append(f"{year}-{month:02d}")
        year, month = (year + 1, 1) if month == 12 else (year, month + 1)
    book = "eco_family,eco,name,pgn\n" + "".join(
        ",".join(csv_field(x) for x in r) + "\n" for r in book_rows(OPENINGS))
    with open(os.path.join(out, "openings.csv"), "w") as f:
        f.write(book)
    digest.update(b"openings.csv\0" + book.encode())
    size += len(book)
    return {"bytes": size, "sha256": digest.hexdigest(), "months": names,
            "games_per_month": games}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--months", type=int, default=12)
    ap.add_argument("--games", type=int, default=500)
    ap.add_argument("--user", default="Rhythmbear1")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.months, a.games, a.user, a.out)))


if __name__ == "__main__":
    main()
