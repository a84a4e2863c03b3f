SELECT "Event Id", "Damage Property" AS Damage
FROM "Storm Events"
ORDER BY "Event Id" ASC NULLS FIRST
