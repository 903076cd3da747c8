#!/usr/bin/env python3
"""Seeded generator for raw rental listings, the input of the paper's pipeline.

Writes a CSV with the scraper's 29-column all-string schema. Missing values
are the literal "brak informacji"; money strings come in the scraper's
variants ("3 200 zł", "1 500,50 zł", "2,5", negative junk); "lokalizacja"
comes in the street/district/city/voivodeship variants the location parser
splits. Row 0 is always a Wrocław listing, so a Wrocław slice is never empty.
The same seed and row count give identical bytes.

Usage: python3 perfbench/gen_rental.py <out.csv> <seed> <rows>
"""
import csv
import random
import sys

COLS = ["tytuł", "miesięcznie", "czynsz", "kaucja", "powierzchnia",
        "województwo", "powiat", "miasto", "dzielnica", "ulica", "lokalizacja",
        "liczba pokoi", "typ ogłoszeniodawcy", "ogrzewanie", "piętro",
        "stan wykończenia", "dostępne od", "informacje dodatkowe",
        "rok budowy", "winda", "rodzaj zabudowy", "materiał budynku",
        "okna", "bezpieczeństwo", "wyposażenie", "zabezpieczenia", "media",
        "url", "data_pobrania"]
BRAK = "brak informacji"
# (city, voivodeship, districts)
CITIES = [
    ("Warszawa", "mazowieckie", ["Wola", "Mokotów", "Praga-Południe", "Ursynów"]),
    ("Kraków", "małopolskie", ["Stare Miasto", "Krowodrza", "Podgórze"]),
    ("Wrocław", "dolnośląskie", ["Krzyki", "Fabryczna", "Psie Pole", "Śródmieście"]),
    ("Gdańsk", "pomorskie", ["Wrzeszcz", "Oliwa", "Przymorze"]),
    ("Poznań", "wielkopolskie", ["Jeżyce", "Grunwald", "Wilda"]),
    ("Łódź", "łódzkie", ["Bałuty", "Widzew", "Polesie"]),
    ("Katowice", "śląskie", ["Ligota", "Brynów"]),
    ("Lublin", "lubelskie", ["Czuby", "Bronowice"]),
    ("Szczecin", "zachodniopomorskie", ["Pogodno", "Niebuszewo"]),
    ("Bydgoszcz", "kujawsko-pomorskie", ["Fordon", "Bartodzieje"]),
    ("Białystok", "podlaskie", ["Bojary", "Antoniuk"]),
    ("Rzeszów", "podkarpackie", ["Śródmieście", "Baranówka"]),
    ("Kielce", "świętokrzyskie", ["Czarnów", "Herby"]),
    ("Olsztyn", "warmińsko-mazurskie", ["Jaroty", "Kortowo"]),
    ("Opole", "opolskie", ["Zaodrze", "Malinka"]),
    ("Zielona Góra", "lubuskie", ["Jędrzychów", "Zacisze"]),
]
ROOMS = ["1", "2", "3", "4", "2 pokoje", "3 pokoje", "Kawalerka", BRAK]
ADVERT = ["prywatny", "Prywatny", "biuro nieruchomości", "deweloper"]
HEATING = ["miejskie", "gazowe", "elektryczne", "kotłownia", BRAK]
FLOORS = ["parter", "1", "2", "3", "4", "10", "> 10", BRAK]
FINISH = ["do zamieszkania", "do wykończenia", "do remontu", BRAK]
EXTRA_ITEMS = ["winda", "balkon", "piwnica", "oddzielna kuchnia",
               "pom. użytkowe", "ogródek", "taras", "garaż/miejsce parkingowe"]
SEPARATORS = ["; ", ", ", " • ", " · "]
EQUIPMENT = ["pralka", "lodówka", "zmywarka", "meble", "piekarnik", "kuchenka",
             "telewizor"]
BUILDING = ["blok", "kamienica", "apartamentowiec", "dom wolnostojący", BRAK]
MATERIAL = ["cegła", "wielka płyta", "żelbet", "pustak", BRAK]
WINDOWS = ["plastikowe", "drewniane", "aluminiowe", BRAK]
SAFETY = ["drzwi / okna antywłamaniowe", "rolety antywłamaniowe", BRAK]
SECURITY = ["domofon / wideofon", "monitoring / ochrona", "teren zamknięty", BRAK]
MEDIA = ["internet, telewizja kablowa", "internet", "telefon, internet", BRAK]


def money(r, lo, hi):
    """A price string. Whole and half złoty only, so sums are exact."""
    k = r.random()
    if k < 0.06:
        return BRAK
    if k < 0.07:
        return ""
    if k < 0.075:
        return f"-{r.randint(1, 99)} zł"
    if k < 0.08:
        return f"{r.randint(1, 9)},5"
    v = r.randrange(lo, hi, 50)
    whole = f"{v:,}".replace(",", " ")
    return f"{whole},50 zł" if k < 0.2 else f"{whole} zł"


def pick_list(r, items, sep):
    return sep.join(r.sample(items, r.randint(1, 3)))


def listing(r, i, city_idx=None):
    city, voiv, districts = CITIES[city_idx if city_idx is not None
                                   else r.randrange(len(CITIES))]
    dist = r.choice(districts)
    street = f"ul. {r.choice(['Długa', 'Prosta', 'Polna', 'Leśna', 'Słoneczna'])} {r.randint(1, 120)}"
    k = r.random()
    if k < 0.1:
        lok = BRAK
    elif k < 0.35:
        lok = f"{street}, {dist}, {city}, {voiv}"
    elif k < 0.5:
        lok = f"{street}, {city}, {voiv}"
    elif k < 0.9:
        lok = f"{dist}, {city}, {voiv}"
    else:
        lok = f"{city}, {voiv}"
    missing_city = city_idx is None and r.random() < 0.03
    area = r.random()
    area_s = (BRAK if area < 0.04 else "0" if area < 0.045
              else f"{r.randint(150, 1500) / 10:.1f}")
    ts = (f"2025-{r.randint(1, 12):02d}-{r.randint(1, 28):02d} "
          f"{r.randint(0, 23):02d}:{r.randint(0, 59):02d}:{r.randint(0, 59):02d}")
    url = (f"https://www.otodom.pl/pl/oferta/mieszkanie-{i}-ID{r.randrange(16**6):06x}"
           if r.random() > 0.01 else f"https://example.com/listing-{i}")
    return [
        f"Kawalerka {i}" if r.random() < 0.1 else f"Mieszkanie {i} do wynajęcia",
        money(r, 800, 9000),
        BRAK if r.random() < 0.3 else str(r.randrange(0, 1000, 50)),
        BRAK if r.random() < 0.4 else money(r, 1000, 12000),
        area_s,
        BRAK if missing_city else voiv,
        BRAK if r.random() < 0.6 else f"{city.lower()}ski",
        BRAK if missing_city else city,
        BRAK if r.random() < 0.2 else dist,
        BRAK if r.random() < 0.5 else street,
        lok,
        r.choice(ROOMS),
        r.choice(ADVERT),
        r.choice(HEATING),
        r.choice(FLOORS),
        r.choice(FINISH),
        "od zaraz" if r.random() < 0.4 else f"2025-{r.randint(1, 12):02d}-01",
        BRAK if r.random() < 0.25 else pick_list(r, EXTRA_ITEMS, r.choice(SEPARATORS)),
        BRAK if r.random() < 0.3 else str(r.randint(1900, 2025)),
        r.choice(["tak", "nie"]),
        r.choice(BUILDING),
        r.choice(MATERIAL),
        r.choice(WINDOWS),
        r.choice(SAFETY),
        BRAK if r.random() < 0.25 else pick_list(r, EQUIPMENT, ", "),
        r.choice(SECURITY),
        r.choice(MEDIA),
        url,
        "junk-date" if r.random() < 0.005 else ts,
    ]


def generate(path, seed, rows):
    r = random.Random(seed)
    wroclaw = next(i for i, c in enumerate(CITIES) if c[0] == "Wrocław")
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(COLS)
        prev = None
        for i in range(rows):
            row = listing(r, i, wroclaw if i == 0 else None)
            # About 1 in 200 listings is scraped twice, byte for byte.
            if prev is not None and r.random() < 0.005:
                row = prev
            w.writerow(row)
            prev = row


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
