"""Seeded generator of landing documents for the pipeline_backfill workload.

Each day's document has the shape of Spotify's recently-played API
response (the fields the clean-zone job reads), at most 50 items a day:

- NEW_PER_DAY distinct new plays, with played_at unique across all days;
- REPEATS_PER_DAY plays copied from the end of the previous day, as the
  API's overlapping "after yesterday midnight" windows produce;
- DUPS_PER_DAY exact duplicates of items already in the document.

Tracks have one to three artists; a third of the albums carry a bare-year
release date; names mix commas, double quotes and non-ASCII letters.
Double quotes are kept out of artist names: the clean zone extracts
artist_names with a regex over JSON text (a behaviour kept from the
reference), which cuts a name at its escaped quote on every input.

The generator also returns its own records, which check.py compares with
the warehouse the program writes.
"""
import datetime
import json
import os
import random

NEW_PER_DAY = 40
REPEATS_PER_DAY = 6
DUPS_PER_DAY = 4
N_ARTISTS = 48
N_ALBUMS = 24
N_TRACKS = 96

_SYLLABLES = ["ka", "lo", "mi", "ra", "sé", "tö", "vin", "dar", "ñu", "el",
              "ström", "bo", "ji", "çe", "na", "rú", "ze", "lya"]


def _word(rng):
    w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 3)))
    return w[0].upper() + w[1:]


def _name(rng, quotes):
    """Two or three words; sometimes joined by a comma, sometimes quoted."""
    words = [_word(rng) for _ in range(rng.randint(2, 3))]
    r = rng.random()
    if r < 0.25:
        return f"{words[0]}, {' '.join(words[1:])}"
    if quotes and r < 0.5:
        return f'{words[0]} "{" ".join(words[1:])}"'
    return " ".join(words)


def _catalog(rng):
    artists = [(f"ar{i:03d}", _name(rng, quotes=False)) for i in range(N_ARTISTS)]
    albums = []
    for i in range(N_ALBUMS):
        year = rng.randint(1960, 2023)
        if i % 3 == 0:
            date, precision = str(year), "year"
        else:
            date = f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
            precision = "day"
        albums.append({
            "id": f"al{i:03d}", "name": _name(rng, quotes=True),
            "release_date": date, "release_date_precision": precision,
            "total_tracks": rng.randint(6, 20),
            "first_artist": rng.randrange(N_ARTISTS)})
    tracks = []
    for i in range(N_TRACKS):
        tracks.append({
            "id": f"tr{i:03d}", "name": _name(rng, quotes=True),
            "album": rng.randrange(N_ALBUMS),
            "artists": rng.sample(range(N_ARTISTS), rng.choice([1, 1, 2, 3])),
            "duration_ms": rng.randint(90_000, 420_000),
            "popularity": rng.randint(0, 100)})
    return artists, albums, tracks


def _artist_json(artists, i):
    aid, name = artists[i]
    return {"external_urls": {"spotify": f"https://open.spotify.test/artist/{aid}"},
            "href": f"https://api.spotify.test/v1/artists/{aid}",
            "id": aid, "name": name, "uri": f"spotify:artist:{aid}"}


def _item(catalog, played_at, t):
    artists, albums, tracks = catalog
    tr = tracks[t]
    al = albums[tr["album"]]
    album = {"album_type": "album",
             "artists": [{"id": artists[al["first_artist"]][0]}],
             "href": f"https://api.spotify.test/v1/albums/{al['id']}",
             "id": al["id"], "name": al["name"],
             "release_date": al["release_date"],
             "release_date_precision": al["release_date_precision"],
             "total_tracks": al["total_tracks"], "type": "album",
             "uri": f"spotify:album:{al['id']}"}
    return {"played_at": played_at,
            "track": {"album": album,
                      "artists": [_artist_json(artists, a) for a in tr["artists"]],
                      "duration_ms": tr["duration_ms"],
                      "href": f"https://api.spotify.test/v1/tracks/{tr['id']}",
                      "id": tr["id"], "name": tr["name"],
                      "popularity": tr["popularity"], "type": "track",
                      "uri": f"spotify:track:{tr['id']}"}}


def generate(seed, start, days, out_dir):
    """Writes {out_dir}/{y}/{m}/{d}/playback_hist.json for `days` days from
    `start` and returns the generator's records of what it landed."""
    rng = random.Random(seed)
    catalog = _catalog(rng)
    artists, albums, tracks = catalog
    plays = {}   # played_at -> track index, every distinct play
    prev = []    # (played_at, track) of the previous day, in time order
    for d in range(days):
        day = start + datetime.timedelta(days=d)
        midnight = datetime.datetime(day.year, day.month, day.day)
        offsets = sorted(rng.sample(range(86_400_000), NEW_PER_DAY))
        new = []
        for ms in offsets:
            ts = midnight + datetime.timedelta(milliseconds=ms)
            played_at = ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z"
            new.append((played_at, rng.randrange(N_TRACKS)))
        plays.update(new)
        listed = new + prev[-REPEATS_PER_DAY:]
        listed += rng.sample(listed, DUPS_PER_DAY)
        listed.sort(reverse=True)  # the API lists the newest play first
        doc = {"items": [_item(catalog, p, t) for p, t in listed]}
        target = os.path.join(out_dir, str(day.year), str(day.month), str(day.day))
        os.makedirs(target, exist_ok=True)
        with open(os.path.join(target, "playback_hist.json"), "w") as f:
            json.dump(doc, f, indent=4, sort_keys=True)
        prev = new
    played_tracks = {tracks[t]["id"]: tracks[t] for t in plays.values()}
    return {
        "plays": sorted((p, tracks[t]["id"]) for p, t in plays.items()),
        "duration_ms_sum": sum(tracks[t]["duration_ms"] for t in plays.values()),
        "track_artists": {tid: [artists[a][1] for a in tr["artists"]]
                          for tid, tr in played_tracks.items()},
        "track_album": {tid: albums[tr["album"]]["id"] for tid, tr in played_tracks.items()},
        "bare_year_albums": {al["id"]: int(al["release_date"]) for al in albums
                             if al["release_date_precision"] == "year"},
        "album_ids": sorted({albums[tr["album"]]["id"] for tr in played_tracks.values()}),
        "artist_ids": sorted({artists[a][0] for tr in played_tracks.values()
                              for a in tr["artists"]}),
    }
