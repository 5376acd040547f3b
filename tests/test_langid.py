"""Language-ID table coverage: a labeled divergence fixture pinned as a
regression test — the round-5 table extension (nl/sv/da/ro/pl) must keep
every labeled snippet correct and the fr/en allow-list outcome identical
to a perfect detector."""

from ragstudio_spark.kernel import langid

# Labeled fixture: natural-register sample snippets, 4 per language.
# In-table languages first, then common European out-of-table ones.
FIXTURE: dict[str, list[str]] = {
    "en": [
        "The committee said that it would review the proposal with care "
        "and publish the findings for everyone to read.",
        "It is not clear that the results are final, but the team was "
        "confident this approach would work in practice.",
        "Most of the files were moved to the new server, and the rest "
        "are scheduled for the weekend migration window.",
        "This is the kind of weather that makes it hard to plan a trip "
        "to the coast with the whole family.",
    ],
    "fr": [
        "Le gouvernement a annoncé que les négociations avec les "
        "syndicats reprendraient dans une semaine pour trouver un accord.",
        "Nous avons visité la vieille ville avec des amis qui habitent "
        "dans le quartier depuis une dizaine d'années.",
        "Ce n'est pas une question simple, mais la réponse est dans les "
        "documents que vous avez reçus hier.",
        "Les enfants jouent dans le parc pendant que les parents "
        "discutent sur un banc à l'ombre des arbres.",
    ],
    "es": [
        "El gobierno anunció que las negociaciones con los sindicatos "
        "continuarán la próxima semana para buscar un acuerdo.",
        "Los niños juegan en el parque mientras sus padres conversan "
        "con los vecinos sobre las fiestas del barrio.",
        "No es una pregunta sencilla, pero la respuesta está en los "
        "documentos que usted recibió por la mañana.",
        "Una parte del equipo viajó a la capital para presentar el "
        "informe ante el comité y su presidente.",
    ],
    "de": [
        "Die Regierung hat angekündigt, dass die Verhandlungen mit den "
        "Gewerkschaften nächste Woche fortgesetzt werden.",
        "Die Kinder spielen im Park, während die Eltern auf einer Bank "
        "sitzen und sich mit den Nachbarn unterhalten.",
        "Das ist keine einfache Frage, aber die Antwort steht in den "
        "Unterlagen, die Sie gestern erhalten haben.",
        "Ein Teil des Teams ist in die Hauptstadt gereist, um den "
        "Bericht vor dem Ausschuss vorzustellen.",
    ],
    "it": [
        "Il governo ha annunciato che i negoziati con i sindacati "
        "riprenderanno la prossima settimana per trovare un accordo.",
        "I bambini giocano nel parco mentre i genitori parlano con i "
        "vicini del quartiere sotto gli alberi.",
        "Non è una domanda semplice, ma la risposta è nei documenti "
        "che avete ricevuto ieri mattina.",
        "Una parte della squadra è andata nella capitale per "
        "presentare il rapporto davanti al comitato.",
    ],
    "pt": [
        "O governo anunciou que as negociações com os sindicatos vão "
        "continuar na próxima semana para buscar um acordo.",
        "As crianças brincam no parque enquanto os pais conversam com "
        "os vizinhos do bairro à sombra das árvores.",
        "Não é uma pergunta simples, mas a resposta está nos "
        "documentos que você recebeu ontem de manhã.",
        "Uma parte da equipe viajou para a capital para apresentar o "
        "relatório ao comitê e ao seu presidente.",
    ],
    # ---- out-of-table: a real langdetect labels these correctly ----
    "nl": [
        "De regering heeft aangekondigd dat de onderhandelingen met de "
        "vakbonden volgende week worden voortgezet.",
        "De kinderen spelen in het park terwijl de ouders op een bankje "
        "zitten en met de buren praten.",
        "Het is geen eenvoudige vraag, maar het antwoord staat in de "
        "stukken die u gisteren heeft ontvangen.",
        "Een deel van het team is naar de hoofdstad gereisd om het "
        "rapport aan de commissie voor te leggen.",
    ],
    "sv": [
        "Regeringen har meddelat att förhandlingarna med facken "
        "kommer att återupptas nästa vecka.",
        "Barnen leker i parken medan föräldrarna sitter på en bänk "
        "och pratar med grannarna.",
        "Det är inte en enkel fråga, men svaret finns i de handlingar "
        "som ni fick i går.",
        "En del av laget har rest till huvudstaden för att lägga fram "
        "rapporten för utskottet.",
    ],
    "da": [
        "Regeringen har meddelt, at forhandlingerne med fagforeningerne "
        "genoptages i næste uge.",
        "Børnene leger i parken, mens forældrene sidder på en bænk og "
        "taler med naboerne.",
        "Det er ikke et enkelt spørgsmål, men svaret står i de papirer, "
        "som De modtog i går.",
        "En del af holdet er rejst til hovedstaden for at fremlægge "
        "rapporten for udvalget.",
    ],
    "ro": [
        "Guvernul a anunțat că negocierile cu sindicatele vor fi "
        "reluate săptămâna viitoare.",
        "Copiii se joacă în parc în timp ce părinții stau pe o bancă "
        "și vorbesc cu vecinii.",
        "Nu este o întrebare simplă, dar răspunsul se află în "
        "documentele pe care le-ați primit ieri.",
        "O parte din echipă a plecat în capitală pentru a prezenta "
        "raportul în fața comisiei.",
    ],
    "pl": [
        "Rząd ogłosił, że negocjacje ze związkami zawodowymi zostaną "
        "wznowione w przyszłym tygodniu.",
        "Dzieci bawią się w parku, podczas gdy rodzice siedzą na "
        "ławce i rozmawiają z sąsiadami.",
        "To nie jest proste pytanie, ale odpowiedź znajduje się w "
        "dokumentach, które otrzymali państwo wczoraj.",
        "Część zespołu pojechała do stolicy, aby przedstawić raport "
        "przed komisją.",
    ],
    # ---- round-6 Latin-script extension (VERDICT r5 #2) ----
    "no": [
        "Regjeringen har sagt at forhandlingene vil fortsette etter "
        "sommeren, men ingen vet hva resultatet blir.",
        "Det er ikke bare et enkelt spørsmål, og noen mener at svaret "
        "kan være noe helt annet når man ser etter.",
        "Mellom husene går det en smal sti, og barna liker å gjøre "
        "turen gjennom parken når de har tid.",
        "Vi har vært der mange ganger, og det har også gitt oss mye å "
        "tenke på etter hvert besøk. Hva mer kan man ønske seg?",
    ],
    "fi": [
        "Hallitus kertoi, että neuvottelut jatkuvat ensi viikolla, "
        "mutta lopputulos ei ole vielä selvä.",
        "Lapset leikkivät puistossa, kun vanhemmat istuvat penkillä ja "
        "juttelevat naapureiden kanssa.",
        "Tämä ei ole yksinkertainen kysymys, mutta vastaus löytyy "
        "asiakirjoista, jotka saitte eilen.",
        "Osa joukkueesta matkusti pääkaupunkiin, ja he ovat siellä "
        "myös ensi viikon kokouksen jälkeen.",
    ],
    "cs": [
        "Vláda oznámila, že jednání s odbory budou pokračovat příští "
        "týden, ale podle mluvčího výsledek zatím není jasný.",
        "Děti si hrají v parku a rodiče jsou rádi, že mohou být "
        "venku, když je hezké počasí.",
        "To není jednoduchá otázka, ale odpověď je v dokumentech, "
        "které jste včera dostali, však to víte.",
        "Nevím, kde jsem to četl, ale může to být pravda, protože "
        "podle novin se situace ještě může změnit.",
    ],
    "hu": [
        "A kormány bejelentette, hogy a tárgyalások jövő héten "
        "folytatódnak, de még nem tudni, mi lesz az eredmény.",
        "A gyerekek a parkban játszanak, míg a szülők egy padon "
        "ülnek, és a szomszédokkal beszélgetnek.",
        "Ez nem egy egyszerű kérdés, de a válasz ott van a "
        "dokumentumokban, amelyeket tegnap kaptak meg.",
        "A csapat egy része a fővárosba utazott, hogy bemutassa a "
        "jelentést, mert már csak ez volt hátra.",
    ],
    "tr": [
        "Hükümet, sendikalarla görüşmelerin önümüzdeki hafta devam "
        "edeceğini ve bir anlaşma için çalışılacağını açıkladı.",
        "Çocuklar parkta oynuyor, anne babalar ise bankta oturuyor "
        "ama bu sırada kimse bir şey için acele etmiyor.",
        "Bu basit bir soru değil, ama cevap dün aldığınız belgelerde "
        "yer alıyor ve daha fazla ayrıntı da var orada.",
        "Takımın bir kısmı raporu sunmak için başkente gitti; sunum "
        "olarak çok başarılı geçti ve herkes gibi biz de memnun kaldık.",
    ],
    "id": [
        "Pemerintah mengumumkan bahwa perundingan dengan serikat "
        "pekerja akan dilanjutkan pada minggu depan untuk mencari "
        "kesepakatan.",
        "Anak-anak bermain di taman, sementara orang tua mereka duduk "
        "di bangku dan berbicara dengan para tetangga.",
        "Ini bukan pertanyaan yang sederhana, tetapi jawabannya ada "
        "dalam dokumen yang Anda terima kemarin pagi.",
        "Sebagian dari tim pergi ke ibu kota untuk menyampaikan "
        "laporan ini kepada komite dan juga kepada ketuanya.",
    ],
    "vi": [
        "Chính phủ thông báo rằng các cuộc đàm phán với công đoàn sẽ "
        "được nối lại vào tuần tới.",
        "Trẻ em chơi trong công viên trong khi cha mẹ ngồi trên ghế "
        "và trò chuyện với những người hàng xóm.",
        "Đây không phải là một câu hỏi đơn giản, nhưng câu trả lời "
        "nằm trong các tài liệu mà bạn đã nhận được hôm qua.",
        "Một phần của đội đã đến thủ đô để trình bày báo cáo này cho "
        "ủy ban và chủ tịch của họ.",
    ],
    # ---- round-6 script-range classes (non-Latin) ----
    "ru": [
        "Правительство объявило, что переговоры с профсоюзами "
        "возобновятся на следующей неделе, чтобы найти решение.",
        "Дети играют в парке, пока родители сидят на скамейке и "
        "разговаривают с соседями о новых планах.",
        "Это не простой вопрос, но ответ есть в документах, которые "
        "вы получили вчера утром.",
        "Часть команды поехала в столицу, чтобы представить доклад "
        "комитету и его председателю.",
    ],
    "uk": [
        "Уряд оголосив, що переговори з профспілками відновляться "
        "наступного тижня, щоб знайти рішення.",
        "Діти граються в парку, поки батьки сидять на лавці і "
        "розмовляють із сусідами про справи.",
        "Це не просте питання, але відповідь є в документах, які ви "
        "отримали вчора вранці.",
        "Частина команди поїхала до столиці, щоб представити звіт "
        "комітетові та його голові.",
    ],
    "ar": [
        "أعلنت الحكومة أن المفاوضات مع النقابات ستستأنف الأسبوع "
        "المقبل من أجل التوصل إلى اتفاق.",
        "يلعب الأطفال في الحديقة بينما يجلس الآباء على مقعد "
        "ويتحدثون مع الجيران.",
        "هذا ليس سؤالا بسيطا، لكن الجواب موجود في الوثائق التي "
        "استلمتموها أمس.",
        "سافر جزء من الفريق إلى العاصمة لتقديم التقرير أمام اللجنة "
        "ورئيسها.",
    ],
    "fa": [
        "دولت اعلام کرد که گفتگوها با اتحادیه‌ها هفته آینده از سر "
        "گرفته می‌شود.",
        "بچه‌ها در پارک بازی می‌کنند و پدر و مادرها روی نیمکت "
        "نشسته‌اند و با همسایه‌ها گپ می‌زنند.",
        "این پرسش ساده‌ای نیست، اما پاسخ در اسنادی است که دیروز "
        "دریافت کردید.",
        "گروهی از تیم برای ارائه گزارش به پایتخت سفر کردند و "
        "برگشتند.",
    ],
    "zh": [
        "政府宣布与工会的谈判将于下周恢复,以寻求达成协议。",
        "孩子们在公园里玩耍,父母坐在长椅上和邻居聊天。",
        "这不是一个简单的问题,但答案就在你昨天收到的文件里。",
        "团队的一部分人去了首都,向委员会提交了报告。",
    ],
    "ja": [
        "政府は、労働組合との交渉が来週再開されると発表した。",
        "子どもたちは公園で遊び、親たちはベンチに座って近所の人と話している。",
        "これは簡単な質問ではないが、答えは昨日受け取った書類の中にある。",
        "チームの一部は報告書を委員会に提出するために首都へ向かった。",
    ],
    "ko": [
        "정부는 노조와의 협상이 다음 주에 재개될 것이라고 발표했다.",
        "아이들은 공원에서 놀고 부모들은 벤치에 앉아 이웃과 이야기를 나눈다.",
        "이것은 간단한 질문이 아니지만 답은 어제 받은 서류에 들어 있다.",
        "팀의 일부는 보고서를 위원회에 제출하기 위해 수도로 떠났다.",
    ],
    "el": [
        "Η κυβέρνηση ανακοίνωσε ότι οι διαπραγματεύσεις με τα "
        "συνδικάτα θα συνεχιστούν την επόμενη εβδομάδα.",
        "Τα παιδιά παίζουν στο πάρκο ενώ οι γονείς κάθονται σε ένα "
        "παγκάκι και μιλούν με τους γείτονες.",
        "Δεν είναι απλή ερώτηση, αλλά η απάντηση βρίσκεται στα "
        "έγγραφα που λάβατε χθες.",
        "Μέρος της ομάδας ταξίδεψε στην πρωτεύουσα για να παρουσιάσει "
        "την έκθεση στην επιτροπή.",
    ],
    "he": [
        "הממשלה הודיעה שהמשא ומתן עם האיגודים יתחדש בשבוע הבא.",
        "הילדים משחקים בפארק בעוד ההורים יושבים על ספסל ומשוחחים עם "
        "השכנים.",
        "זו אינה שאלה פשוטה, אבל התשובה נמצאת במסמכים שקיבלתם אתמול.",
        "חלק מהצוות נסע לבירה כדי להציג את הדוח בפני הוועדה.",
    ],
    "th": [
        "รัฐบาลประกาศว่าการเจรจากับสหภาพแรงงานจะกลับมาดำเนินต่อในสัปดาห์หน้า",
        "เด็ก ๆ เล่นอยู่ในสวนสาธารณะ ขณะที่พ่อแม่นั่งคุยกับเพื่อนบ้านบนม้านั่ง",
        "นี่ไม่ใช่คำถามง่าย แต่คำตอบอยู่ในเอกสารที่คุณได้รับเมื่อวานนี้",
        "ทีมงานบางส่วนเดินทางไปเมืองหลวงเพื่อนำเสนอรายงานต่อคณะกรรมการ",
    ],
    "hi": [
        "सरकार ने घोषणा की कि यूनियनों के साथ बातचीत अगले सप्ताह फिर "
        "से शुरू होगी।",
        "बच्चे पार्क में खेल रहे हैं जबकि माता-पिता बेंच पर बैठकर "
        "पड़ोसियों से बात कर रहे हैं।",
        "यह कोई आसान सवाल नहीं है, लेकिन जवाब उन दस्तावेज़ों में है "
        "जो आपको कल मिले।",
        "टीम का एक हिस्सा रिपोर्ट पेश करने के लिए राजधानी गया।",
    ],
}

ALLOW = {"fr", "en"}  # the reference's default allow-list


class TestLangidTable:
    def test_fixture_fully_agrees(self):
        for label, texts in FIXTURE.items():
            assert label in langid.supported_languages()
            for t in texts:
                assert langid.detect_language(t) == label, (label, t[:60])

    def test_allow_list_outcome_matches_perfect_detector(self):
        """The reference's filter semantics (normalize.py:58-120): keep
        iff detected ∈ allow-list. On the labeled fixture the scorer's
        keep/drop decision must equal the true-label decision."""
        for label, texts in FIXTURE.items():
            for t in texts:
                ours = langid.detect_language(t) in ALLOW
                true = label in ALLOW
                assert ours == true, (label, t[:60])

    def test_short_and_garbage_inputs_stay_sane(self):
        assert langid.detect_language("") is None
        assert langid.detect_language("12345 67890 @@@@") is None
        # single shared tokens resolve deterministically (alphabetical
        # tie-break), never crash
        assert langid.detect_language("som") in ("da", "sv")

    def test_no_single_letter_stopwords_and_enumerations_stay_english(self):
        """Single-letter profile tokens are banned: standalone 'w'/'z'
        occur in English enumerations and would flip en → pl, wrongly
        DROPPING allowed documents (review-found). The enumeration
        fixture pins the behavior."""
        # scoped to the round-5 additions: pt's pre-existing "o"/"é" are
        # part of the long-standing profile (and "é"/"è" are non-ASCII,
        # absent from English text)
        for lang in ("nl", "sv", "da", "ro", "pl"):
            assert all(len(w) >= 2 for w in langid.STOPWORDS[lang]), lang
        text = ("The appendix lists the options w, x, y, z and it is "
                "clear that the first of them is the one to pick.")
        assert langid.detect_language(text) == "en"

    def test_round6_rows_keep_the_token_bans(self):
        """The r5 rules extend to every r6 Latin row: no single-letter
        tokens, no Indonesian 'di' (Italian's top preposition), no
        Turkish 'var' (JS/C# source text)."""
        for lang in ("no", "fi", "cs", "hu", "tr", "id", "vi"):
            assert all(len(w) >= 2 for w in langid.STOPWORDS[lang]), lang
        assert "di" not in langid.STOPWORDS["id"]
        assert "var" not in langid.STOPWORDS["tr"]
        assert langid.detect_language(
            "Click on the link di the page and it is done") == "en"
        assert langid.detect_language(
            "var it = that; var x = this.var; for the var of it") == "en"


class TestScriptCensus:
    """The non-Latin routing stage (round 6): dominant-script census
    with within-script discriminators — not expressible as stopword
    profiles (CJK has no whitespace-delimited function words)."""

    def test_pure_ascii_never_enters_the_census(self):
        # the fast path: isascii() short-circuits before any script regex
        assert langid._script_language("the committee said") is None

    def test_kana_separates_japanese_from_chinese(self):
        assert langid.detect_language("政府は交渉が再開されると発表した。") == "ja"
        assert langid.detect_language("政府宣布谈判将恢复。") == "zh"

    def test_exclusive_letters_separate_cyrillic_orthographies(self):
        assert langid.detect_language("переговоры возобновятся") == "ru"
        assert langid.detect_language("переговори відновляться") == "uk"

    def test_persian_letters_separate_arabic_script(self):
        assert langid.detect_language("المفاوضات ستستأنف الأسبوع المقبل") == "ar"
        assert langid.detect_language("گفتگوها هفته آینده از سر گرفته می‌شود") == "fa"

    def test_latin_majority_mixed_text_stays_stopword_routed(self):
        """Quoted foreign words inside English prose must not flip the
        document: the census only routes when the non-Latin script
        outnumbers Latin letters."""
        text = ("The committee said that the proposal known as 合意 "
                "would be reviewed and that it was not final.")
        assert langid.detect_language(text) == "en"

    def test_census_languages_are_supported_but_not_stopword_rows(self):
        assert langid.SCRIPT_LANGS <= langid.supported_languages()
        assert not (langid.SCRIPT_LANGS & set(langid.STOPWORDS))
        assert len(langid.supported_languages()) >= 25

    def test_original_six_languages_unchanged(self):
        """The extension must not have disturbed the pre-existing
        profiles (their token sets are part of the oracle-adjacent
        contract documented in COVERAGE.md)."""
        assert langid.STOPWORDS["en"][:5] == ("the", "and", "of", "to", "is")
        assert langid.STOPWORDS["fr"][:5] == ("le", "la", "les", "des", "une")
        assert set(langid.STOPWORDS) >= {"en", "fr", "es", "de", "it", "pt",
                                         "nl", "sv", "da", "ro", "pl"}


class TestRobustness:
    def test_arbitrary_unicode_never_crashes_and_is_deterministic(self):
        import random

        rng = random.Random(99)
        pools = [(0x20, 0x7E), (0x400, 0x4FF), (0x600, 0x6FF),
                 (0x4E00, 0x4FFF), (0x3040, 0x30FF), (0xAC00, 0xAC7F),
                 (0x1F600, 0x1F64F), (0xD7A4, 0xD7AF)]  # incl. unassigned
        for _ in range(200):
            lo, hi = rng.choice(pools)
            s = "".join(chr(rng.randrange(lo, hi + 1))
                        for _ in range(rng.randrange(0, 80)))
            a = langid.detect_language(s)
            assert a == langid.detect_language(s)     # deterministic
            assert a is None or a in langid.supported_languages()

    def test_ascii_fast_path_equals_stopword_scorer(self):
        """For pure-ASCII text the census must be a no-op: the result
        equals the plain stopword argmax (the fast path cannot change
        semantics, only skip work)."""
        texts = ["the cat and the dog in the house",
                 "le chat est dans la maison avec le chien",
                 "", "12345", "zzz qqq"]
        for t in texts:
            assert t.isascii()
            scores = langid.language_scores(t)
            best = min(scores, key=lambda lang: (-scores[lang], lang))
            expected = best if scores[best] > 0 else None
            assert langid.detect_language(t) == expected
