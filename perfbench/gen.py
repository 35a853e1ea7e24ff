"""Seeded transcript generator owned by the benchmark.

The benchmark's inputs must not move when the program changes, so this
module carries its own phrase banks and imports nothing from the program.
``generate(mix, n_turns, seed)`` returns an Arrow table for the
``transcripts`` table: (conv_id string, turn_idx int32, role string,
text string, tool string, ts timestamp[us]).

Content mixes (share of turns, before the per-conversation overrides):

- ``mixed``: the production shape -- about 53% of turns pass the rule
  layer, about a tenth are case/whitespace variants of a small pool of
  texts that lose dedup, PII and profanity turns feed the scrubber, and
  non-English turns feed the language stage.
- ``reject``: about 95% of turns fail a rule (too short, word salad,
  repeated lines, symbol blobs, over-long words), so the model stage and
  dedup see almost nothing.

Both mixes put one conversation at 10% of the turns (the salted
conversation-stats path), give the others Zipf-distributed sizes, and
store rows in shuffled order.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

EN = (
    "The team met on Monday to plan the release and agreed on a short list of goals.",
    "I think we should test the new parser on a larger sample before we ship it.",
    "She wrote a clear summary of the meeting and sent it to everyone in the group.",
    "The results look good, but there are still a few cases that we need to check.",
    "He asked if the report could be ready by the end of the week for the review.",
    "We moved the service to a new machine and the response time dropped by half.",
    "It would help if you could explain the steps that led to this error message.",
    "The old script was slow because it read the whole file into memory at once.",
    "They decided to keep the current design and improve the documentation instead.",
    "Please send me the link to the notes so that I can read them before the call.",
    "The weather was cold in the morning, so we stayed inside and worked on the plan.",
    "Our customers want a simple way to export their data and share it with others.",
    "The library is in the center of the town, next to the park and the old station.",
    "I have been reading about the history of the city and the people who built it.",
    "When the tests pass on every branch, we will merge the change and tag a release.",
    "It is important to write down what you learned so that others can use it later.",
    "The new version fixes the crash that happened when the input file was empty.",
    "We spent the afternoon in the garden and talked about the trip we plan to take.",
    "You can find the answer in the second chapter of the book that I gave to you.",
    "The manager said that the budget for the project will be approved next month.",
    "This is a good example of how a small change can make the code easier to read.",
    "The students were asked to write a short essay about a topic of their choice.",
    "After a long day at work, she likes to cook dinner and listen to some music.",
    "He was not sure whether the numbers in the table were correct, so he checked.",
    "The doctor told him to rest for a few days and to drink plenty of water.",
    "We have to decide which features are needed for the first version of the app.",
    "The train was late again, and many people were waiting on the cold platform.",
    "If the server does not respond within a minute, the client will try again.",
    "The museum has a large collection of paintings from the last two centuries.",
    "I would like to thank you for the help you gave me with the final report.",
)

OTHER = {
    "es": (
        "El equipo se reunió el lunes para planificar la nueva versión del producto.",
        "Creo que deberíamos probar el analizador con una muestra mucho más grande.",
        "Ella escribió un resumen claro de la reunión y lo envió a todo el grupo.",
        "Los resultados parecen buenos, pero todavía quedan algunos casos por revisar.",
        "La biblioteca está en el centro de la ciudad, junto al parque y la estación.",
        "Después de un largo día de trabajo, le gusta cocinar y escuchar música.",
    ),
    "fr": (
        "L'équipe s'est réunie lundi pour préparer la nouvelle version du produit.",
        "Je pense que nous devrions tester l'analyseur sur un échantillon plus grand.",
        "Elle a rédigé un résumé clair de la réunion et l'a envoyé à tout le groupe.",
        "Les résultats semblent bons, mais il reste encore quelques cas à vérifier.",
        "La bibliothèque se trouve au centre de la ville, près du parc et de la gare.",
        "Après une longue journée de travail, elle aime cuisiner et écouter de la musique.",
    ),
    "de": (
        "Das Team hat sich am Montag getroffen, um die neue Version zu planen.",
        "Ich denke, wir sollten den Parser mit einer größeren Stichprobe testen.",
        "Sie schrieb eine klare Zusammenfassung des Treffens und schickte sie allen.",
        "Die Ergebnisse sehen gut aus, aber einige Fälle müssen wir noch prüfen.",
        "Die Bibliothek liegt im Zentrum der Stadt, neben dem Park und dem Bahnhof.",
        "Nach einem langen Arbeitstag kocht sie gern und hört dabei etwas Musik.",
    ),
    "it": (
        "La squadra si è riunita lunedì per pianificare la nuova versione del prodotto.",
        "Penso che dovremmo provare il parser su un campione molto più grande.",
        "Lei ha scritto un riassunto chiaro della riunione e lo ha inviato a tutti.",
        "I risultati sembrano buoni, ma ci sono ancora alcuni casi da controllare.",
        "La biblioteca si trova nel centro della città, vicino al parco e alla stazione.",
        "Dopo una lunga giornata di lavoro, le piace cucinare e ascoltare musica.",
    ),
}

PII = (
    "Send the draft to maria.lopez@example.com when it is ready.",
    "My work address is ops-team+alerts@mail.example.org if you need it.",
    "You can call the office at (312) 555-0147 during the day.",
    "The backup number is 646-555-0192 in case the first one fails.",
    "The form lists the number 219-09-9999 in the wrong field.",
    "The record still shows 078051120 in the identifier column.",
    "We pinned the client to release 2.4.219-09-9999 for now.",
    "The textbook has ISBN 9780131103627 on the back cover.",
    "Reach me on +1 415 555 0123 or at help@desk.example.net today.",
    "The extension 555.012 is too short to be a phone number.",
)

PROFANE = (
    "Damn, the nightly job failed again and nobody knows why.",
    "This old config format sucks and the docs are not much better.",
    "What the hell happened to the staging database last night?",
    "Only an idiot would deploy that change on a Friday evening.",
    "The shellfish at the harbour restaurant was really quite good.",
    "Say hello to the new engineer who joined the team this week.",
)

DUP_POOL = (
    "The nightly build finished without errors and every smoke test passed on the first try.",
    "Please read the design note and leave your comments before the end of the week.",
    "The cache bug was fixed by clearing stale entries before each write to the store.",
    "Our move to the new storage system finished with no data loss and no downtime.",
    "Thanks for the quick reply, I will look at the logs and get back to you soon.",
    "The meeting is moved to Thursday at ten because the room is booked on Wednesday.",
)

CONTENT = (
    "table window spark query filter merge column vector batch stream kernel "
    "tensor branch packet socket buffer thread mutex queue stack parser lexer "
    "token symbol schema index cursor driver module handler"
).split()

ALPHA = "abcdefghijklmnopqrstuvwxyz"
TOOLS = ("search", "browser", "calculator", "python", "sql", "shell")
EPOCH = dt.datetime(2025, 1, 1)

MIXES = {
    "mixed": (
        ("prose", 0.22), ("pii", 0.08), ("profane", 0.04), ("dup", 0.13),
        ("foreign", 0.05), ("foreign_mixed", 0.03), ("noisy", 0.03),
        ("short", 0.06), ("too_long", 0.005), ("salad", 0.06),
        ("repeated", 0.05), ("low_distinct", 0.04), ("symbols", 0.06),
        ("long_words", 0.03), ("few_words", 0.02), ("empty", 0.025),
        ("tool_json", 0.05),
    ),
    "reject": (
        ("prose", 0.03), ("pii", 0.01), ("dup", 0.01),
        ("short", 0.20), ("salad", 0.20), ("repeated", 0.18),
        ("symbols", 0.17), ("long_words", 0.12), ("few_words", 0.05),
        ("low_distinct", 0.03),
    ),
}
# share of multi-turn conversations whose turns are all terse
# (conversation-level reject)
TERSE_CONV = {"mixed": 0.05, "reject": 0.0}


def _pick(rng, seq):
    return seq[rng.randint(len(seq))]


def _prose(rng, n, sep=" "):
    return sep.join(_pick(rng, EN) for _ in range(n))


def _word(rng, lo, hi):
    return "".join(ALPHA[i] for i in rng.randint(26, size=rng.randint(lo, hi)))


def _text(rng, kind):
    if kind == "prose":
        return _prose(rng, rng.randint(2, 7), "\n" if rng.rand() < 0.2 else " ")
    if kind == "pii":
        extra = " ".join(_pick(rng, PII) for _ in range(rng.randint(1, 4)))
        return _prose(rng, rng.randint(1, 4)) + " " + extra
    if kind == "profane":
        return _prose(rng, rng.randint(1, 3)) + " " + _pick(rng, PROFANE)
    if kind == "dup":
        t = _pick(rng, DUP_POOL)
        style = rng.randint(4)
        if style == 1:
            return t.upper()
        if style == 2:
            return "  " + t + " \t"
        if style == 3:
            return t.lower()
        return t
    if kind == "foreign":
        bank = OTHER[_pick(rng, tuple(OTHER))]
        return " ".join(_pick(rng, bank) for _ in range(rng.randint(2, 5)))
    if kind == "foreign_mixed":
        bank = OTHER[_pick(rng, tuple(OTHER))]
        body = " ".join(_pick(rng, bank) for _ in range(rng.randint(2, 4)))
        return f"the {body} and it is"
    if kind == "noisy":
        words = _prose(rng, 4).split()
        for i in range(0, len(words), 2):
            words[i] = _word(rng, 3, 10)
        return " ".join(words)
    if kind == "short":
        return _pick(rng, EN)[: rng.randint(1, 25)]
    if kind == "too_long":
        s = _prose(rng, 4)
        return " ".join([s] * (20_001 // len(s) + 2))
    if kind == "salad":
        return " ".join(_pick(rng, CONTENT) for _ in range(rng.randint(12, 60)))
    if kind == "repeated":
        line = _pick(rng, EN)
        return "\n".join([line] * rng.randint(6, 12) + [_pick(rng, EN)])
    if kind == "low_distinct":
        return " ".join(["the", "data", "is", "in", "the", "table"] * rng.randint(8, 20))
    if kind == "symbols":
        sym = "{}[]<>|=#$%@*_/\\^~`" * rng.randint(3, 8)
        return f"{_pick(rng, EN)} {sym} #### ===="
    if kind == "long_words":
        return " ".join(_word(rng, 14, 22) for _ in range(rng.randint(5, 12)))
    if kind == "few_words":
        return "Acknowledged, confirmed unconditionally."
    if kind == "empty":
        return "" if rng.rand() < 0.5 else None
    if kind == "tool_json":
        cells = ", ".join(
            f'{{"id": {rng.randint(1000)}, "ok": true}}' for _ in range(rng.randint(2, 6))
        )
        return f"[{cells}]"
    if kind == "terse":
        return "note " + " ".join(_pick(rng, CONTENT) for _ in range(5))
    raise ValueError(kind)


SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def generate(mix: str, n_turns: int, seed: int) -> pa.Table:
    """Deterministic transcripts table of exactly ``n_turns`` rows."""
    rng = np.random.RandomState(seed)
    names = [k for k, _ in MIXES[mix]]
    p = np.array([w for _, w in MIXES[mix]])
    counts = np.floor(p / p.sum() * n_turns).astype(int)
    counts[0] += n_turns - counts.sum()

    # The workload's shape -- how many turns of each kind, the conversation
    # sizes, which conversations are terse -- is the same for every seed;
    # the seed draws the texts, which turn gets which kind and the order
    # of the conversations.
    shape_rng = np.random.RandomState(n_turns)
    convs = [(n_turns // 10, False)]
    left = n_turns - convs[0][0]
    while left > 0:
        z = min(int(shape_rng.zipf(1.6)), 60, left)
        convs.append((z, z >= 3 and shape_rng.rand() < TERSE_CONV[mix]))
        left -= z
    convs = convs[:1] + [convs[i] for i in rng.permutation(len(convs) - 1) + 1]

    cols: dict[str, list] = {k: [] for k in SCHEMA.names}
    kinds = iter(rng.permutation(np.repeat(np.arange(len(names)), counts)))
    for ci, (size, terse) in enumerate(convs):
        base = EPOCH + dt.timedelta(hours=ci % 100_000)
        for ti in range(size):
            k = next(kinds)
            kind = "terse" if terse else names[k]
            if kind == "tool_json":
                role, tool = "tool", _pick(rng, TOOLS)
            elif ti == 0 and rng.rand() < 0.15:
                role, tool = "system", None
            else:
                role, tool = ("user" if ti % 2 == 0 else "assistant"), None
            cols["conv_id"].append(f"c{seed}_{ci:07d}")
            cols["turn_idx"].append(ti)
            cols["role"].append(role)
            cols["text"].append(_text(rng, kind))
            cols["tool"].append(tool)
            cols["ts"].append(base + dt.timedelta(seconds=60 * ti))

    table = pa.table(cols, schema=SCHEMA)
    return table.take(pa.array(rng.permutation(n_turns)))
